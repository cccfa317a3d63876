"""prefix_jaccard_join (AllPairs/PPJoin prefix-filtered EXACT similarity
self-join): equality against an independent Python brute force — the
operator promises no false negatives AND no false positives at the
threshold, so set equality (not containment) is the contract. Plus
threshold-boundary exactness (the integer-arithmetic filters must keep a
pair at exactly J = p/q) and the positional-filter on/off invariance.
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.operators.similarity import (
    prefix_jaccard_join,
)


def _grams(text: str, n: int = 3) -> frozenset[str]:
    toks = text.lower().split()
    if len(toks) < n:
        return frozenset()
    return frozenset(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )


def _brute(rows: list[tuple[int, str]], p: int, q: int, n: int = 3):
    sets = {i: _grams(t, n) for i, t in rows}
    out = {}
    for (ia, ga), (ib, gb) in itertools.combinations(sorted(sets.items()), 2):
        if not ga or not gb:
            continue
        inter = len(ga & gb)
        if inter * (p + q) >= p * (len(ga) + len(gb)):
            out[(ia, ib)] = (inter, len(ga), len(gb))
    return out


def _run(spark, rows, p, q):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = prefix_jaccard_join(
        df, "text", "doc_id", threshold_num=p, threshold_den=q
    ).collect()
    return {
        (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
        for r in got
    }


WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


class TestPrefixJaccardJoin:
    def test_matches_brute_force_on_corpus(self, spark, sf_dir):
        from amonaly_detection_in_time_series_data_spark.sources.readers import load_table

        docs = load_table(spark, sf_dir, "documents").limit(120)
        rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
        # inject exact + near duplicates so the threshold actually binds
        rows += [(i + 10000, t) for i, t in rows if i % 10 == 0]
        rows += [
            (i + 20000, t + " extra trailing words here")
            for i, t in rows
            if isinstance(i, int) and i % 17 == 0 and i < 10000
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
            for r in prefix_jaccard_join(df, threshold_num=1, threshold_den=2)
            .collect()
        }
        assert got == _brute(rows, 1, 2)

    def test_threshold_boundary_pair_kept(self, spark):
        # two 4-token docs sharing their middle trigram: sizes 2 and 2,
        # inter 1 -> J = 1/3 exactly; must be KEPT at threshold 1/3 and
        # dropped at anything above.
        rows = [
            (1, "a b c d"),
            (2, "x b c d"),  # grams: {a b c, b c d} vs {x b c, b c d}
        ]
        assert set(_run(spark, rows, 1, 3)) == {(1, 2)}
        assert set(_run(spark, rows, 34, 100)) == set()

    def test_short_docs_dropped(self, spark):
        rows = [(1, "a b"), (2, "a b"), (3, "a b c"), (4, "a b c")]
        # doc 1/2 have <3 tokens -> zero grams -> never paired
        assert set(_run(spark, rows, 1, 2)) == {(3, 4)}

    def test_invalid_threshold_raises(self, spark):
        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            prefix_jaccard_join(df, threshold_num=0, threshold_den=2)
        with pytest.raises(ValueError):
            prefix_jaccard_join(df, threshold_num=3, threshold_den=2)

    @settings(max_examples=15, deadline=None)
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(WORDS), min_size=0, max_size=10),
            min_size=2,
            max_size=12,
        ),
        pq=st.sampled_from([(1, 2), (1, 3), (2, 3), (3, 4), (1, 1)]),
    )
    def test_property_equals_brute_force(self, spark, docs, pq):
        p, q = pq
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        assert _run(spark, rows, p, q) == _brute(rows, p, q)


class TestGramDfIndex:
    """The persisted rarest-first gram-df index (r13): reused order ==
    fresh output, stale order still EXACT (consistency, not accuracy,
    is what the prefix theorem needs), incremental update == rebuild,
    compat-tag validation."""

    CORPUS = [
        (1, "alpha beta gamma delta eps"),
        (2, "alpha beta gamma delta zeta"),
        (3, "beta gamma delta eps zeta"),
        (4, "eta theta alpha beta gamma"),
        (5, "zeta eta theta alpha beta"),
        (6, "gamma delta eps zeta eta"),
    ]

    def _run_with_index(self, spark, rows, path, p=1, q=2, **kw):
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = prefix_jaccard_join(
            df, "text", "doc_id", threshold_num=p, threshold_den=q,
            gram_order_path=path, **kw
        ).collect()
        return {
            (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
            for r in got
        }

    def test_reused_order_equals_fresh(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
        )

        path = str(tmp_path / "gramdf")
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        gram_df_index_build(df, path)
        got = self._run_with_index(spark, self.CORPUS, path)
        assert got == _run(spark, self.CORPUS, 1, 2) == _brute(
            self.CORPUS, 1, 2
        )

    def test_stale_index_still_exact(self, spark, tmp_path):
        # index built on HALF the corpus: dfs are wrong and half the
        # grams are unseen (df=0) — the result must STILL be exact
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
        )

        path = str(tmp_path / "gramdf_stale")
        half = spark.createDataFrame(self.CORPUS[:3], ["doc_id", "text"])
        gram_df_index_build(half, path)
        got = self._run_with_index(spark, self.CORPUS, path)
        assert got == _brute(self.CORPUS, 1, 2)

    def test_incremental_update_equals_rebuild(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            gram_df_index_update,
        )

        inc_path = str(tmp_path / "gramdf_inc")
        full_path = str(tmp_path / "gramdf_full")
        b1 = spark.createDataFrame(self.CORPUS[:2], ["doc_id", "text"])
        b2 = spark.createDataFrame(self.CORPUS[2:4], ["doc_id", "text"])
        b3 = spark.createDataFrame(self.CORPUS[4:], ["doc_id", "text"])
        # bootstrap (no index yet) then two incremental folds
        gram_df_index_update(spark, inc_path, b1)
        gram_df_index_update(spark, inc_path, b2)
        inc = gram_df_index_update(spark, inc_path, b3)
        full = gram_df_index_build(
            spark.createDataFrame(self.CORPUS, ["doc_id", "text"]), full_path
        )
        key = lambda r: (r["__h"], r["df"], r["gram"], r["compat"])
        assert sorted(map(key, inc.collect())) == sorted(
            map(key, full.collect())
        )

    def test_compat_mismatch_raises(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            gram_df_index_update,
        )

        path = str(tmp_path / "gramdf_compat")
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        gram_df_index_build(df, path, shingle_n=2)
        with pytest.raises(ValueError, match="compat"):
            self._run_with_index(spark, self.CORPUS, path)  # shingle_n=3
        with pytest.raises(ValueError, match="compat"):
            gram_df_index_update(spark, path, df)  # shingle_n=3

    def test_cap_with_index(self, spark, tmp_path):
        # max_gram_df binds on the index's dfs; survivors stay exact
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
        )

        path = str(tmp_path / "gramdf_cap")
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        gram_df_index_build(df, path)
        pairs, excluded = prefix_jaccard_join(
            df, "text", "doc_id", 1, 2,
            gram_order_path=path, max_gram_df=10**6, return_excluded=True,
        )
        got = {
            (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
            for r in pairs.collect()
        }
        assert got == _brute(self.CORPUS, 1, 2)  # cap never binds
        assert excluded.count() == 0

    def test_indexed_plan_skips_df_aggregate(self, spark, tmp_path):
        # the point of the index: the per-call plan must not rebuild
        # the gram-df groupBy over gram OCCURRENCES — one aggregate
        # (the per-doc ordered assembly) instead of two, and a scan of
        # the index parquet in its place
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
        )

        path = str(tmp_path / "gramdf_plan")
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        gram_df_index_build(df, path)
        fresh = prefix_jaccard_join(df, "text", "doc_id", 1, 2)
        indexed = prefix_jaccard_join(
            df, "text", "doc_id", 1, 2, gram_order_path=path
        )
        fplan = fresh._jdf.queryExecution().optimizedPlan().toString()
        iplan = indexed._jdf.queryExecution().optimizedPlan().toString()
        # the logical tree repeats the shared subtree per consumer, so
        # count the df-aggregate SIGNATURE, not Aggregate nodes
        assert "count(1) AS df" in fplan
        assert "count(1) AS df" not in iplan, iplan
        assert "parquet" in iplan  # the index scan took its place


class TestOrderedTokensArtifact:
    """The persisted ordered-tokens artifact (r13): joining the
    artifact equals the direct join AND brute force — one-shot builds,
    incrementally-appended builds (the frozen-index cross-batch
    consistency contract), any query-time threshold — and a drifted
    gram index is refused loudly."""

    CORPUS = TestGramDfIndex.CORPUS

    def _join(self, spark, path, p=1, q=2):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        got = prefix_jaccard_join_indexed(spark, path, p, q).collect()
        return {
            (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
            for r in got
        }

    def test_one_shot_equals_direct_and_brute(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            ordered_tokens_build,
        )

        gpath = str(tmp_path / "g")
        tpath = str(tmp_path / "t")
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        gram_df_index_build(df, gpath)
        ordered_tokens_build(df, tpath, gpath)
        for p, q in ((1, 2), (1, 3), (2, 3)):
            assert (
                self._join(spark, tpath, p, q)
                == _run(spark, self.CORPUS, p, q)
                == _brute(self.CORPUS, p, q)
            )

    def test_incremental_appends_stay_exact(self, spark, tmp_path):
        # index frozen on the FIRST batch only — stale (df=0) for every
        # gram the later batches introduce; the union join must still
        # be exact, and cross-batch pairs must be found
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            ordered_tokens_update,
        )

        gpath = str(tmp_path / "gi")
        tpath = str(tmp_path / "ti")
        b1 = spark.createDataFrame(self.CORPUS[:2], ["doc_id", "text"])
        gram_df_index_build(b1, gpath)
        ordered_tokens_update(spark, tpath, b1, gpath)  # bootstrap
        ordered_tokens_update(
            spark, tpath,
            spark.createDataFrame(self.CORPUS[2:4], ["doc_id", "text"]),
            gpath,
        )
        ordered_tokens_update(
            spark, tpath,
            spark.createDataFrame(self.CORPUS[4:], ["doc_id", "text"]),
            gpath,
        )
        got = self._join(spark, tpath)
        assert got == _brute(self.CORPUS, 1, 2)
        # cross-batch pairs exist in this fixture (docs 1-2 vs 3+)
        assert any(a <= 2 < b for a, b in got)

    def test_drifted_index_refused(self, spark, tmp_path):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            gram_df_index_update,
            ordered_tokens_build,
            ordered_tokens_update,
        )

        gpath = str(tmp_path / "gd")
        tpath = str(tmp_path / "td")
        b1 = spark.createDataFrame(self.CORPUS[:3], ["doc_id", "text"])
        b2 = spark.createDataFrame(self.CORPUS[3:], ["doc_id", "text"])
        gram_df_index_build(b1, gpath)
        ordered_tokens_build(b1, tpath, gpath)
        # drift the index (fold in batch 2), then try to append
        gram_df_index_update(spark, gpath, b2)
        with _pytest.raises(ValueError, match="drifted"):
            ordered_tokens_update(spark, tpath, b2, gpath)

    def test_threshold_validation(self, spark, tmp_path):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        with _pytest.raises(ValueError):
            prefix_jaccard_join_indexed(spark, str(tmp_path), 0, 2)


class TestComposedSimilarityStore:
    """similarity_index_update / similarity_ingest_sink (r14, the r13
    verdict's #1): one ingest call keeps the gram-df index and the
    ordered-tokens artifact in lockstep — batching-invariance (N
    ingested batches ≡ one-shot build), streaming-vs-batch parity
    through foreachBatch, ATOMIC drift refusal (neither artifact
    touched), redelivery idempotency, and the tokens→df recovery
    rebuild."""

    CORPUS = TestGramDfIndex.CORPUS

    def _join(self, spark, base, p=1, q=2):
        from amonaly_detection_in_time_series_data_spark.operators.ingest import (
            similarity_index_paths,
        )
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        _, _, _, tok_p = similarity_index_paths(base)
        got = prefix_jaccard_join_indexed(spark, tok_p, p, q).collect()
        return {
            (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
            for r in got
        }

    def _ingest_all(self, spark, base, splits):
        from amonaly_detection_in_time_series_data_spark.operators.ingest import (
            similarity_index_update,
        )

        for i, rows in enumerate(splits):
            similarity_index_update(
                spark.createDataFrame(rows, ["doc_id", "text"]), base, i
            )

    def test_sink_batches_equal_one_shot(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.ingest import (
            similarity_index_paths,
        )
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
        )

        base = str(tmp_path / "store")
        self._ingest_all(
            spark, base,
            [self.CORPUS[:2], self.CORPUS[2:4], self.CORPUS[4:]],
        )
        got = self._join(spark, base)
        assert got == _brute(self.CORPUS, 1, 2)
        # cross-batch pairs exist in this fixture
        assert any(a <= 2 < b for a, b in got)
        # the LIVE df index equals a from-scratch build over the union
        df_p, _, _, _ = similarity_index_paths(base)
        live = {
            (r["__h"], r["df"], r["gram"])
            for r in spark.read.parquet(df_p)
            .select("__h", "df", "gram")
            .collect()
        }
        rebuilt_path = str(tmp_path / "rebuild_ref")
        ref = gram_df_index_build(
            spark.createDataFrame(self.CORPUS, ["doc_id", "text"]),
            rebuilt_path,
        )
        want = {
            (r["__h"], r["df"], r["gram"])
            for r in ref.select("__h", "df", "gram").collect()
        }
        assert live == want

    def test_streaming_sink_parity(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.ingest import (
            similarity_ingest_sink,
        )

        base = str(tmp_path / "sstore")
        src = tmp_path / "feed"
        splits = [self.CORPUS[:2], self.CORPUS[2:4], self.CORPUS[4:]]
        for i, rows in enumerate(splits):
            spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(
                1
            ).write.mode("overwrite").parquet(str(src / f"b{i}"))
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "b*"))
        )
        q = (
            stream.writeStream.foreachBatch(similarity_ingest_sink(base))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert self._join(spark, base) == _brute(self.CORPUS, 1, 2)

    def test_refusal_is_atomic(self, spark, tmp_path):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.operators.ingest import (
            similarity_index_paths,
            similarity_index_update,
        )
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
        )

        base = str(tmp_path / "astore")
        self._ingest_all(spark, base, [self.CORPUS[:2], self.CORPUS[2:4]])
        df_p, ord_p, _, tok_p = similarity_index_paths(base)

        def snap():
            toks = sorted(
                (r["id"], tuple(r["toks"]))
                for r in spark.read.parquet(tok_p).collect()
            )
            live = sorted(
                (r["__h"], r["df"])
                for r in spark.read.parquet(df_p).collect()
            )
            return toks, live

        before = snap()
        # tamper: overwrite the FROZEN order snapshot with an index
        # built from a different corpus (different content fingerprint)
        gram_df_index_build(
            spark.createDataFrame(
                [(99, "totally different words entirely here")],
                ["doc_id", "text"],
            ),
            ord_p,
        )
        with _pytest.raises(ValueError, match="REFUSING"):
            similarity_index_update(
                spark.createDataFrame(self.CORPUS[4:], ["doc_id", "text"]),
                base, 2,
            )
        # neither artifact was touched by the refused update
        assert snap() == before

    def test_store_without_dictionary_refused(self, spark, tmp_path):
        # a hash-tail store (tokens but no gram-id dictionary) is no
        # longer updated: refused before any write
        import os
        import shutil

        from amonaly_detection_in_time_series_data_spark.operators.ingest import (
            similarity_index_paths,
            similarity_index_update,
        )

        base = str(tmp_path / "nstore")
        self._ingest_all(spark, base, [self.CORPUS[:3]])
        df_p, _, ids_p, tok_p = similarity_index_paths(base)
        shutil.rmtree(ids_p)
        before = (
            sorted(map(tuple, spark.read.parquet(tok_p).collect())),
            sorted(map(tuple, spark.read.parquet(df_p).collect())),
        )
        with pytest.raises(ValueError, match="rebuild the store"):
            similarity_index_update(
                spark.createDataFrame(self.CORPUS[3:], ["doc_id", "text"]),
                base, 1,
            )
        after = (
            sorted(map(tuple, spark.read.parquet(tok_p).collect())),
            sorted(map(tuple, spark.read.parquet(df_p).collect())),
        )
        assert after == before
        assert not os.path.exists(ids_p)  # no dictionary rebuilt

    def test_redelivery_idempotent(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.ingest import (
            similarity_index_paths,
            similarity_index_update,
        )

        base = str(tmp_path / "rstore")
        self._ingest_all(spark, base, [self.CORPUS[:3], self.CORPUS[3:]])
        df_p, _, _, tok_p = similarity_index_paths(base)
        want_join = self._join(spark, base)
        want_tok_rows = spark.read.parquet(tok_p).count()
        want_live = sorted(
            (r["__h"], r["df"]) for r in spark.read.parquet(df_p).collect()
        )
        # redeliver batch 1 (same batch_id, same rows — the foreachBatch
        # retry contract): tokens partition rewritten, df fold skipped
        similarity_index_update(
            spark.createDataFrame(self.CORPUS[3:], ["doc_id", "text"]),
            base, 1,
        )
        assert spark.read.parquet(tok_p).count() == want_tok_rows
        got_live = sorted(
            (r["__h"], r["df"]) for r in spark.read.parquet(df_p).collect()
        )
        assert got_live == want_live
        assert self._join(spark, base) == want_join == _brute(
            self.CORPUS, 1, 2
        )

    def test_rebuild_df_recovers(self, spark, tmp_path):
        import shutil

        from amonaly_detection_in_time_series_data_spark.operators.ingest import (
            similarity_index_paths,
            similarity_index_rebuild_df,
        )

        base = str(tmp_path / "rcstore")
        self._ingest_all(
            spark, base,
            [self.CORPUS[:2], self.CORPUS[2:4], self.CORPUS[4:]],
        )
        df_p, _, _, _ = similarity_index_paths(base)
        want = sorted(
            (r["__h"], r["df"], r["gram"], r["last_batch"])
            for r in spark.read.parquet(df_p).collect()
        )
        shutil.rmtree(df_p)  # the crash-mid-overwrite scenario
        rebuilt = similarity_index_rebuild_df(spark, base)
        got = sorted(
            (r["__h"], r["df"], r["gram"], r["last_batch"])
            for r in rebuilt.collect()
        )
        assert got == want


class TestIndexedHashTail:
    """The artifact join's two-stage hash tail (hash screen, then the
    exact string verify) equals brute force, and its plan scans the
    tokens parquet 6 times: 2 for the prefix, 2 per stage."""

    CORPUS = TestGramDfIndex.CORPUS

    def _store(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            ordered_tokens_build,
        )

        gpath = str(tmp_path / "gf")
        tpath = str(tmp_path / "tf")
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        gram_df_index_build(df, gpath)
        ordered_tokens_build(df, tpath, gpath)
        return tpath

    def test_equals_brute(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        tpath = self._store(spark, tmp_path)
        for p, q in [(1, 2), (1, 3), (2, 5)]:
            got = {
                (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
                for r in prefix_jaccard_join_indexed(spark, tpath, p, q).collect()
            }
            assert got == _brute(self.CORPUS, p, q)

    def test_plan_scans_artifact_six_times(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        tpath = self._store(spark, tmp_path)
        plan = (
            prefix_jaccard_join_indexed(spark, tpath, 1, 2)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("Relation") == 6


class TestDeclaredIndexedQuery:
    """The r14 rows-only declared query `ngram_jaccard_indexed` must
    produce exactly the pair set of `ngram_jaccard`'s 'ppjoin' tier —
    the artifact == direct contract surfaced at the driver level."""

    def test_pair_set_equals_direct_tier(self, spark, sf_dir):
        import __spark_entry__ as e

        qs = e.queries()
        idx = {
            (r["id_a"], r["id_b"])
            for r in qs["ngram_jaccard_indexed"](spark, sf_dir)
            .select("id_a", "id_b")
            .collect()
        }
        direct = {
            (r["id_a"], r["id_b"])
            for r in qs["ngram_jaccard"](spark, sf_dir)
            .filter(F.col("tier") == "ppjoin")
            .select("id_a", "id_b")
            .collect()
        }
        assert idx == direct
        assert len(idx) > 0  # the dup-injected fixture guarantees pairs


class TestGramIdDictionary:
    """r14: the gram-id dictionary (dense exact int ids) and the
    string-free id tail it unlocks — ids unique and append-stable, the
    id-tail join == hash tail == brute force (one-shot AND
    incrementally-appended artifacts with batch-introduced new grams),
    the :ids marker refuses mixed artifacts, a dictionary gap is
    refused loudly, and the int32 format bound guards."""

    CORPUS = TestGramDfIndex.CORPUS

    def _build_ids_native(self, spark, tmp_path, rows, sub="s"):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            gram_ids_build,
            ordered_tokens_build,
        )

        g = str(tmp_path / sub / "g")
        i = str(tmp_path / sub / "i")
        t = str(tmp_path / sub / "t")
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        gram_df_index_build(df, g)
        gram_ids_build(df, i)
        ordered_tokens_build(df, t, g, gram_ids_path=i)
        return g, i, t

    def _join(self, spark, tpath, p=1, q=2, **kw):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        got = prefix_jaccard_join_indexed(spark, tpath, p, q, **kw).collect()
        return {
            (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
            for r in got
        }

    def test_ids_unique_and_update_append_stable(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_ids_build,
            gram_ids_update,
        )

        path = str(tmp_path / "ids")
        b1 = spark.createDataFrame(self.CORPUS[:3], ["doc_id", "text"])
        b2 = spark.createDataFrame(self.CORPUS[3:], ["doc_id", "text"])
        first = {
            r["gram"]: r["gid"]
            for r in gram_ids_build(b1, path).collect()
        }
        assert len(set(first.values())) == len(first)  # unique
        assert sorted(first.values()) == list(range(len(first)))  # dense
        after = {
            r["gram"]: r["gid"]
            for r in gram_ids_update(spark, path, b2).collect()
        }
        # every previously-assigned id is UNCHANGED (append-only)
        for g, gid in first.items():
            assert after[g] == gid, g
        # new grams got fresh ids past the old max, still all-unique
        assert len(set(after.values())) == len(after)
        assert len(after) > len(first)  # batch 2 introduces new grams
        assert min(
            gid for g, gid in after.items() if g not in first
        ) == len(first)
        # redelivery of the same batch appends nothing
        again = gram_ids_update(spark, path, b2)
        assert again.count() == len(after)

    def test_id_tail_equals_hash_tail_and_brute(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            ordered_tokens_build,
        )

        g, _, t_ids = self._build_ids_native(spark, tmp_path, self.CORPUS)
        # the same corpus under the same order, without ids: hash tail
        t_hash = str(tmp_path / "s" / "th")
        ordered_tokens_build(
            spark.createDataFrame(self.CORPUS, ["doc_id", "text"]),
            t_hash, g,
        )
        for p, q in ((1, 2), (1, 3), (2, 3)):
            got_ids = self._join(spark, t_ids, p, q)
            got_hash = self._join(spark, t_hash, p, q)
            assert got_ids == got_hash == _brute(self.CORPUS, p, q)

    def test_id_tail_plan_is_string_free(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        _, _, t = self._build_ids_native(spark, tmp_path, self.CORPUS)
        df = prefix_jaccard_join_indexed(spark, t, 1, 2)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the id tail never touches the gram strings or their hashes —
        # every Project over the artifact must prune both columns.
        # (`Relation` nodes print the FILE's full schema regardless of
        # pruning, so they are excluded from the assertion; the
        # Projects directly above them are where pruning shows.)
        pruned = "\n".join(
            ln for ln in plan.splitlines() if "Relation" not in ln
        )
        assert "toks_id" in pruned
        assert "toks_h" not in pruned, plan
        assert "toks#" not in pruned.replace("toks_id", ""), plan

    def test_boundary_pair_kept_by_aggregated_bound(self, spark, tmp_path):
        # J exactly p/q must survive the aggregated PPJoin bound — the
        # no-false-negatives contract at the worst-case position
        rows = [(1, "a b c d"), (2, "x b c d")]
        _, _, t = self._build_ids_native(spark, tmp_path, rows, sub="b")
        assert set(self._join(spark, t, 1, 3)) == {(1, 2)}
        assert set(self._join(spark, t, 34, 100)) == set()

    def test_incremental_ids_appends_stay_exact(self, spark, tmp_path):
        # order frozen on batch 1; later batches introduce NEW grams
        # (fresh ids past the snapshot) — union join must stay exact
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            gram_ids_update,
            ordered_tokens_update,
        )

        g = str(tmp_path / "inc" / "g")
        i = str(tmp_path / "inc" / "i")
        t = str(tmp_path / "inc" / "t")
        splits = (self.CORPUS[:2], self.CORPUS[2:4], self.CORPUS[4:])
        b1 = spark.createDataFrame(splits[0], ["doc_id", "text"])
        gram_df_index_build(b1, g)
        for rows in splits:
            b = spark.createDataFrame(rows, ["doc_id", "text"])
            gram_ids_update(spark, i, b)  # dictionary BEFORE tokens
            ordered_tokens_update(spark, t, b, g, gram_ids_path=i)
        got = self._join(spark, t)
        assert got == _brute(self.CORPUS, 1, 2)
        assert any(a <= 2 < b for a, b in got)  # cross-batch pairs

    def test_mixed_marker_refused(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            gram_ids_build,
            ordered_tokens_build,
            ordered_tokens_update,
        )

        g = str(tmp_path / "mm" / "g")
        i = str(tmp_path / "mm" / "i")
        t_plain = str(tmp_path / "mm" / "tp")
        t_ids = str(tmp_path / "mm" / "ti")
        b1 = spark.createDataFrame(self.CORPUS[:3], ["doc_id", "text"])
        b2 = spark.createDataFrame(self.CORPUS[3:], ["doc_id", "text"])
        gram_df_index_build(b1, g)
        gram_ids_build(
            spark.createDataFrame(self.CORPUS, ["doc_id", "text"]), i
        )
        ordered_tokens_build(b1, t_plain, g)  # legacy artifact
        with pytest.raises(ValueError, match="ids"):
            ordered_tokens_update(spark, t_plain, b2, g, gram_ids_path=i)
        ordered_tokens_build(b1, t_ids, g, gram_ids_path=i)
        with pytest.raises(ValueError, match="ids"):
            ordered_tokens_update(spark, t_ids, b2, g)  # no ids now

    def test_dictionary_gap_refused(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            gram_ids_build,
            ordered_tokens_build,
        )

        g = str(tmp_path / "gap" / "g")
        i = str(tmp_path / "gap" / "i")
        t = str(tmp_path / "gap" / "t")
        full = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        gram_df_index_build(full, g)
        # dictionary covers only batch 1's vocabulary
        gram_ids_build(
            spark.createDataFrame(self.CORPUS[:2], ["doc_id", "text"]), i
        )
        with pytest.raises(ValueError, match="absent from the gram-id"):
            ordered_tokens_build(full, t, g, gram_ids_path=i)

    def test_int32_bound_guards(self, spark, tmp_path, monkeypatch):
        import amonaly_detection_in_time_series_data_spark.operators.similarity as sim

        path = str(tmp_path / "bound")
        monkeypatch.setattr(sim, "_GID_MAX", 3)
        with pytest.raises(ValueError, match="int32 id format bound"):
            sim.gram_ids_build(
                spark.createDataFrame(self.CORPUS, ["doc_id", "text"]),
                path,
            )
        # build under the bound, then an update that would pass it
        monkeypatch.setattr(sim, "_GID_MAX", 10**6)
        sim.gram_ids_build(
            spark.createDataFrame(self.CORPUS[:2], ["doc_id", "text"]),
            path,
        )
        monkeypatch.setattr(sim, "_GID_MAX", 4)
        with pytest.raises(ValueError, match="int32 id format bound"):
            sim.gram_ids_update(
                spark, path,
                spark.createDataFrame(self.CORPUS[2:], ["doc_id", "text"]),
            )

    @settings(max_examples=8, deadline=None)
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(WORDS), min_size=0, max_size=10),
            min_size=2,
            max_size=10,
        ),
        pq=st.sampled_from([(1, 2), (1, 3), (2, 3), (1, 1)]),
    )
    def test_property_id_tail_equals_brute(
        self, spark, tmp_path_factory, docs, pq
    ):
        p, q = pq
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        if not any(_grams(t) for _, t in rows):
            return  # no grammable docs — artifact would be empty
        tmp = tmp_path_factory.mktemp("idprop")
        _, _, t = self._build_ids_native(spark, tmp, rows)
        assert self._join(spark, t, p, q) == _brute(rows, p, q)

    def test_composed_store_is_ids_native(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.ingest import (
            similarity_index_paths,
            similarity_index_update,
        )

        base = str(tmp_path / "idstore")
        splits = (self.CORPUS[:2], self.CORPUS[2:4], self.CORPUS[4:])
        for i, rows in enumerate(splits):
            similarity_index_update(
                spark.createDataFrame(rows, ["doc_id", "text"]), base, i
            )
        _, _, ids_p, tok_p = similarity_index_paths(base)
        toks = spark.read.parquet(tok_p)
        assert "toks_id" in toks.columns
        assert (
            toks.filter(
                F.exists("toks_id", lambda g: g.isNull())
            ).count()
            == 0
        )
        # dictionary rows == the union corpus's distinct grams
        vocab = set()
        for _, text in self.CORPUS:
            vocab |= _grams(text)
        ids = spark.read.parquet(ids_p)
        assert {r["gram"] for r in ids.collect()} == vocab
        assert ids.select("gid").distinct().count() == len(vocab)
        # and the join over the store runs the id tail, exactly
        got = self._join(spark, tok_p)
        assert got == _brute(self.CORPUS, 1, 2)


class TestIndexedCap:
    """r14: `max_gram_df` on the FLAGSHIP artifact path — the same
    mega-bucket defense as the inline cap, hot list from the persisted
    gram-df index, exact gid exclusion on the id tail (per-row bound
    in cap mode so the recall contract matches the inline cap), and
    capped-inline == capped-indexed on the same hot source."""

    FLOOD = 60
    CAP = 10

    def _stores(self, spark, tmp_path, rows):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            gram_df_index_build,
            gram_ids_build,
            ordered_tokens_build,
        )

        g = str(tmp_path / "g")
        i = str(tmp_path / "i")
        t_ids = str(tmp_path / "ti")
        t_hash = str(tmp_path / "th")
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        gram_df_index_build(df, g)
        gram_ids_build(df, i)
        ordered_tokens_build(df, t_ids, g, gram_ids_path=i)
        ordered_tokens_build(df, t_hash, g)
        return g, i, t_ids, t_hash

    def test_cap_binds_both_tails(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        rows = [(i, "alpha beta gamma") for i in range(self.FLOOD)] + [
            (9000, "delta epsilon zeta eta theta iota kappa"),
            (9001, "delta epsilon zeta eta theta iota lambda"),
        ]
        g, i, t_ids, t_hash = self._stores(spark, tmp_path, rows)
        pairs_i, ex_i = prefix_jaccard_join_indexed(
            spark, t_ids, 1, 2, max_gram_df=self.CAP, gram_df_path=g,
            gram_ids_path=i, return_excluded=True,
        )
        pairs_h, ex_h = prefix_jaccard_join_indexed(
            spark, t_hash, 1, 2, max_gram_df=self.CAP, gram_df_path=g,
            return_excluded=True,
        )
        for pairs, ex in ((pairs_i, ex_i), (pairs_h, ex_h)):
            got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
            assert got == {(9000, 9001)}, got
            exr = ex.collect()
            assert len(exr) == 1 and exr[0]["df"] == self.FLOOD

    def test_capped_indexed_equals_capped_inline(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join,
            prefix_jaccard_join_indexed,
        )

        # flood gram shared by near-dup docs that ALSO share rare
        # grams — the cap drops prefix entries without killing the
        # pair, so the three paths must agree non-trivially
        rows = [(i, "alpha beta gamma") for i in range(self.FLOOD)] + [
            (9000, "alpha beta gamma delta epsilon zeta eta"),
            (9001, "alpha beta gamma delta epsilon zeta theta"),
            (9002, "unrelated words entirely different here now"),
        ]
        g, i, t_ids, t_hash = self._stores(spark, tmp_path, rows)
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        key = lambda r: (r["id_a"], r["id_b"], r["inter"])
        inline = prefix_jaccard_join(
            df, "text", "doc_id", 1, 2,
            gram_order_path=g, max_gram_df=self.CAP,
        )
        idx_ids = prefix_jaccard_join_indexed(
            spark, t_ids, 1, 2, max_gram_df=self.CAP, gram_df_path=g,
            gram_ids_path=i,
        )
        idx_hash = prefix_jaccard_join_indexed(
            spark, t_hash, 1, 2, max_gram_df=self.CAP, gram_df_path=g,
        )
        want = sorted(map(key, inline.collect()))
        assert sorted(map(key, idx_ids.collect())) == want
        assert sorted(map(key, idx_hash.collect())) == want
        assert any(a == 9000 for a, _, _ in want)  # survivor pair kept

    def test_nonbinding_cap_equals_uncapped(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        rows = TestGramDfIndex.CORPUS
        g, i, t_ids, _ = self._stores(spark, tmp_path, rows)
        pairs, ex = prefix_jaccard_join_indexed(
            spark, t_ids, 1, 2, max_gram_df=10**6, gram_df_path=g,
            gram_ids_path=i, return_excluded=True,
        )
        got = {
            (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
            for r in pairs.collect()
        }
        assert got == _brute(rows, 1, 2)
        assert ex.count() == 0

    def test_cap_validation(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            prefix_jaccard_join_indexed,
        )

        g, i, t_ids, _ = self._stores(
            spark, tmp_path, TestGramDfIndex.CORPUS
        )
        with pytest.raises(ValueError, match="return_excluded"):
            prefix_jaccard_join_indexed(
                spark, t_ids, 1, 2, return_excluded=True
            )
        with pytest.raises(ValueError, match="gram_df_path"):
            prefix_jaccard_join_indexed(spark, t_ids, 1, 2, max_gram_df=5)
        with pytest.raises(ValueError, match="gram_ids_path"):
            prefix_jaccard_join_indexed(
                spark, t_ids, 1, 2, max_gram_df=5, gram_df_path=g
            )
