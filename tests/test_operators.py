"""Operator-level tests beyond the oracle pairs: property-based checks
(SURVEY.md §5.2 item 4), similarity/LSH self-consistency, PCA anomaly
tier, and plan-shape assertions (scale discipline).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
    global_zscore_flags,
    pca_reconstruction_error,
)
from amonaly_detection_in_time_series_data_spark.operators.features import bucketed_rolling
from amonaly_detection_in_time_series_data_spark.sources.readers import load_csv, load_table


class TestSimilarity:
    def test_minhash_lsh_finds_exact_dups(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        dup = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 10000
        )
        unioned = docs.unionByName(dup)
        sigs = minhash_signatures(unioned, "text", "doc_id", n_hashes=16)
        pairs = minhash_lsh_pairs(sigs, n_bands=4).collect()
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        expected = {
            (r["doc_id"], r["doc_id"] + 10000)
            for r in docs.filter(F.col("doc_id") % 10 == 0).select("doc_id").collect()
        }
        # exact duplicates have identical signatures -> must be candidates
        assert expected <= found
        # and their estimated jaccard is 1.0
        est = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in pairs}
        assert all(est[p] == 1.0 for p in expected)

    def test_minhash_banding_finds_high_jaccard_neardups(self, spark):
        # The banding S-curve: P(candidate | jaccard j) = 1-(1-j^r)^b
        # (r=4 hashes/band, b=4 bands). The existing exact-dup test only
        # covers j=1; this pins that HIGH-jaccard NEAR-dups are found at
        # roughly the predicted rate, so a hashing/banding regression
        # that silently kills near-dup (not exact-dup) recall cannot
        # ship green. Deterministic given the hash family, but the
        # family itself is an implementation detail (r9 moved the
        # engine-native path to composed gram hashes), so the pin is a
        # statistical floor: expected hit rate here is ~0.74 (j~0.73,
        # r=4, b=4); 200 trials, floor 0.62 is ~3.5 sigma below — tight
        # enough to catch a real recall kill, loose enough to survive a
        # re-seeding.
        base_docs = []
        near_pairs = []
        for i in range(200):
            toks = [f"w{i}_{j}" for j in range(60)]
            base_docs.append((i, " ".join(toks)))
            # mutate 3 tokens near the end -> ~6/63 shingles differ
            mut = list(toks)
            for m in range(3):
                mut[50 + m * 3] = f"MUT{i}_{m}"
            base_docs.append((1000 + i, " ".join(mut)))
            near_pairs.append((i, 1000 + i))
        df = spark.createDataFrame(base_docs, "doc_id long, text string")
        sigs = minhash_signatures(df, "text", "doc_id", n_hashes=16)
        found = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(sigs, n_bands=4).collect()
        }
        hit = sum(1 for p in near_pairs if p in found)
        assert hit / len(near_pairs) >= 0.62, (
            f"near-dup recall {hit}/{len(near_pairs)}"
        )

    def test_minhash_max_bucket_size_drops_mega_bucket(self, spark):
        # 30 identical "boilerplate" docs form one mega-bucket per band
        # (O(bucket^2) pair triangle = the straggler at scale); a
        # distinct near-dup pair lives in small buckets. The cap must
        # drop every mega-bucket pair and keep the small-bucket pair.
        boiler = [(i, "spam " * 20) for i in range(30)]
        near = [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "alpha beta gamma delta epsilon zeta eta theta"),
        ]
        df = spark.createDataFrame(boiler + near, "doc_id long, text string")
        sigs = minhash_signatures(df, "text", "doc_id", n_hashes=16)
        uncapped = minhash_lsh_pairs(sigs, n_bands=4).collect()
        capped = minhash_lsh_pairs(sigs, n_bands=4, max_bucket_size=10).collect()
        uncapped_pairs = {(r["id_a"], r["id_b"]) for r in uncapped}
        capped_pairs = {(r["id_a"], r["id_b"]) for r in capped}
        assert (100, 101) in uncapped_pairs
        assert (100, 101) in capped_pairs
        # all 30*29/2 boilerplate pairs present uncapped, gone capped
        assert sum(1 for a, b in uncapped_pairs if a < 100 and b < 100) == 435
        assert not any(a < 100 and b < 100 for a, b in capped_pairs)

    def test_lsh_topk_vs_brute_force_self_hit(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        bf = cosine_topk(emb, queries, k=3).collect()
        assert len(bf) == 15
        # brute force: each query's neighbors sorted by cosine desc
        for r in bf:
            assert -1.0001 <= r["cosine"] <= 1.0001
        lsh = lsh_cosine_topk(emb, queries, k=3, dim=64, n_planes=4).collect()
        # LSH returns a subset ranked within buckets; every query that has
        # bucket-mates yields <= k rows
        per_q = {}
        for r in lsh:
            per_q.setdefault(r["query_id"], []).append(r)
        assert all(len(v) <= 3 for v in per_q.values())

    def test_ann_recall_vs_brute_force(self, spark):
        # Recall@5 pins: a regression in the hyperplane or centroid
        # logic cannot ship green. Ground truth = exact cosine_topk.
        # All inputs are seeded/deterministic; measured values at sf0.01
        # (20 queries): multi-table LSH b=4 L=8 -> 0.710, L=16 -> 0.900;
        # single-table b=6 -> 0.060 (matches the (1-theta/pi)^b math —
        # that's why n_tables exists); IVF 16/4 -> 0.690, 8/2 -> 0.510.
        # Pinned at sf0.01 (the oracle SF, where those were measured —
        # sf0.001's vectors differ and give e.g. IVF 16/4 -> 0.51).
        import os

        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            ivf_cosine_topk,
        )

        oracle_sf = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"
        )
        if not os.path.isdir(oracle_sf):
            pytest.skip(f"oracle dataset {oracle_sf} not present")
        emb = load_table(spark, oracle_sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)

        def neighbors(df):
            out = {}
            for r in df.collect():
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return out

        truth = neighbors(cosine_topk(emb, q, k=5))

        def recall(approx):
            per = [
                len(approx.get(qid, set()) & t) / len(t)
                for qid, t in truth.items()
            ]
            return sum(per) / len(per)

        lsh_multi = recall(
            neighbors(
                lsh_cosine_topk(
                    emb, q, k=5, dim=64, n_planes=4, seed=42, n_tables=8
                )
            )
        )
        assert lsh_multi >= 0.6, f"multi-table LSH recall@5 {lsh_multi:.3f}"
        # multiprobe (the query-default config): 6-bit x 6 tables with
        # 1-bit probe expansion measures 0.820 here vs 0.710 for the
        # old 4-bit x 8 single-probe, at LOWER corpus explode (6x vs
        # 8x) and faster wall (frontier table in q_embedding_knn_lsh);
        # pin above the single-probe floor so a probe-set regression
        # cannot ship
        lsh_mp = recall(
            neighbors(
                lsh_cosine_topk(
                    emb, q, k=5, dim=64, n_planes=6, seed=42,
                    n_tables=6, multiprobe=True,
                )
            )
        )
        assert lsh_mp >= 0.75, f"multiprobe LSH recall@5 {lsh_mp:.3f}"
        # r10 ADVICE: probe_radius is multiprobe-only — reject the two
        # silent-degradation inputs instead of ignoring them
        with pytest.raises(ValueError, match="probe_radius must be >= 1"):
            lsh_cosine_topk(
                emb, q, k=5, dim=64, multiprobe=True, probe_radius=0
            )
        with pytest.raises(ValueError, match="only used with"):
            lsh_cosine_topk(
                emb, q, k=5, dim=64, multiprobe=False, probe_radius=2
            )
        ivf = recall(
            neighbors(
                ivf_cosine_topk(emb, q, k=5, n_clusters=16, n_probe=4, seed=42)
            )
        )
        assert ivf >= 0.6, f"IVF recall@5 {ivf:.3f}"
        # query-default IVF config: looser floor, still a regression pin
        ivf_default = recall(
            neighbors(
                ivf_cosine_topk(emb, q, k=5, n_clusters=8, n_probe=2, seed=42)
            )
        )
        assert ivf_default >= 0.4, f"IVF 8/2 recall@5 {ivf_default:.3f}"

    def test_ivf_index_persist_and_requery(self, spark, sf_dir, tmp_path):
        # 100 TB contract: build the IVF index ONCE, write it out
        # partitioned by inverted list, reload, and serve query batches
        # with no refit — results identical to the one-shot API.
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            ivf_build_index,
            ivf_cosine_topk,
            ivf_query_index,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 5)
        want = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in ivf_cosine_topk(
                emb, q, k=3, n_clusters=8, n_probe=2, seed=42, round_digits=4
            ).collect()
        }
        inv, cents = ivf_build_index(emb, n_clusters=8, seed=42)
        inv.write.partitionBy("__list").parquet(str(tmp_path / "inv"))
        cents.write.parquet(str(tmp_path / "cents"))
        inv2 = spark.read.parquet(str(tmp_path / "inv"))
        cents2 = spark.read.parquet(str(tmp_path / "cents"))
        got = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in ivf_query_index(
                inv2, cents2, q, k=3, n_probe=2, round_digits=4
            ).collect()
        }
        assert got == want

        # static_prune pushes the probed list ids into the parquet scan
        # as a PartitionFilter — unprobed lists are never read. Same
        # results, and the plan proves the pruning reached the scan.
        pruned = ivf_query_index(
            inv2, cents2, q, k=3, n_probe=2, round_digits=4,
            static_prune=True,
        )
        got_pruned = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in pruned.collect()
        }
        assert got_pruned == want
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "__list" in m.group(1), (
            f"no __list PartitionFilter in scan:\n{plan[:3000]}"
        )

    def test_simhash_neardup_banding_is_exact(self, spark, sf_dir):
        # Pigeonhole: with 4 bands, any pair within Hamming 3 shares at
        # least one full band — the banded result must EQUAL the brute
        # force all-pairs answer, not approximate it.
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            simhash_neardup_pairs,
        )

        docs = load_table(spark, sf_dir, "documents")
        dup = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 50000
        )
        sims = simhash64(docs.unionByName(dup), "text", "doc_id")
        banded = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_neardup_pairs(
                sims, max_hamming=3, n_bands=4, bits=64
            ).collect()
        }
        a = sims.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
        b = sims.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
        brute = {
            (r["id_a"], r["id_b"]): r["h"]
            for r in (
                a.crossJoin(b)
                .filter(F.col("id_a") < F.col("id_b"))
                .select(
                    "id_a",
                    "id_b",
                    F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                    .cast("bigint")
                    .alias("h"),
                )
                .filter(F.col("h") <= 3)
            ).collect()
        }
        assert banded == brute
        assert len(brute) > 0  # exact dups exist -> hamming 0 pairs

    def test_neardup_pair_recall(self, spark):
        # Pair recall of the multi-table near-dup operator vs the exact
        # all-pairs answer (measured at sf0.01: 1 table 0.117, 8 tables
        # 0.632, 16 tables 0.861); precision must be exactly 1.0 —
        # every candidate is re-checked with exact cosine.
        import os

        from amonaly_detection_in_time_series_data_spark.functions.vectors import (
            cosine_similarity,
        )
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            embedding_neardup_pairs,
        )

        oracle_sf = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"
        )
        if not os.path.isdir(oracle_sf):
            pytest.skip(f"oracle dataset {oracle_sf} not present")
        emb = load_table(spark, oracle_sf, "embeddings")
        a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
        b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
        truth = {
            (r["id_a"], r["id_b"])
            for r in (
                a.crossJoin(b)
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn(
                    "cos", F.round(cosine_similarity(F.col("va"), F.col("vb")), 4)
                )
                .filter(F.col("cos") >= 0.2)
            ).collect()
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_neardup_pairs(
                emb, threshold=0.2, dim=64, n_planes=4, seed=7,
                round_digits=4, n_tables=8,
            ).collect()
        }
        assert got <= truth  # precision 1.0
        assert len(got & truth) / len(truth) >= 0.55

    def test_simhash_identical_docs_equal(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "totally different words here")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
        assert out[1] == out[2]
        assert out[1] != out[3]

    def test_ngram_jaccard_exact(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
            "doc_id long, text string",
        )
        cand = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
        out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, cand).collect()}
        assert out[(1, 2)] == 1.0
        assert out[(1, 3)] == 0.0

    def test_ngram_containment_doc_inside_doc(self, spark):
        # doc 2 quotes doc 1 wholesale inside a longer page: jaccard is
        # small (the union is big) but the SHORT side's containment is
        # 1.0 — the quote-inclusion signal (Broder containment)
        docs = spark.createDataFrame(
            [
                (1, "a b c d e"),
                (2, "p q r a b c d e s t u v w x y z m n o"),
            ],
            "doc_id long, text string",
        )
        cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        (r,) = ngram_jaccard_pairs(docs, cand).collect()
        # doc1: 3 grams, all present in doc2 (17 grams)
        assert r["containment_a"] == 1.0
        assert abs(r["containment_b"] - 3 / 17) < 1e-12
        assert abs(r["jaccard"] - 3 / 17) < 1e-12  # union == doc2's grams

    def test_shingles_big_doc_linear(self, spark):
        # 20k tokens in ONE row/task: the zip_with-over-slices form is
        # O(n); the old transform(sequence, i -> slice(toks,...)) form
        # re-evaluated the free tokenize() expression per element
        # (interpreted HOF path) — measured quadratic (10k tokens 16.4s).
        import time

        from amonaly_detection_in_time_series_data_spark.operators.similarity import shingles

        toks = [f"w{i % 1000}" for i in range(20_000)]
        df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
        t0 = time.monotonic()
        row = df.select(F.size(shingles(F.col("text"), 3)).alias("n")).collect()[0]
        elapsed = time.monotonic() - t0
        expected_distinct = len({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
        assert row["n"] == expected_distinct
        assert elapsed < 10, f"shingles took {elapsed:.1f}s on 20k tokens"

    def test_shingles_short_doc_edges(self, spark):
        # < n tokens -> EMPTY array (no truncated or '' grams)
        from amonaly_detection_in_time_series_data_spark.operators.similarity import shingles

        df = spark.createDataFrame(
            [(1, "a b"), (2, ""), (3, "a b c"), (4, "  x   y  z ")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["g"] for r in df.select("doc_id", shingles(F.col("text"), 3).alias("g")).collect()}
        assert out[1] == []
        assert out[2] == []
        assert out[3] == ["a b c"]
        assert out[4] == ["x y z"]


class TestAnomalyTiers:
    def test_global_zscore_flags(self, spark):
        vals = [float(v) for v in [10, 11, 9, 10, 11, 10, 9, 10, 100]]
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, err double")
        out = global_zscore_flags(df, "err", threshold=2.0).orderBy("i").collect()
        assert out[-1]["is_anomaly"] == 1
        assert all(r["is_anomaly"] == 0 for r in out[:-1])

    def test_pca_reconstruction_error_flags_outlier(self, spark):
        # points on a line + one far off it: the off-line point has the
        # largest reconstruction error under k=1 PCA
        import numpy as np

        rng = np.random.RandomState(0)
        t = rng.uniform(-1, 1, 50)
        rows = [(int(i), float(x), float(2 * x)) for i, x in enumerate(t)]
        rows.append((50, 0.0, 5.0))
        df = spark.createDataFrame(rows, "i int, x double, y double")
        scored, model = pca_reconstruction_error(df, ["x", "y"], k=1)
        top = scored.orderBy(F.col("recon_error").desc()).first()
        assert top["i"] == 50

    def test_page_hinkley_detects_mean_shift(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import page_hinkley

        # flat at 10 for 30 steps, then shifted to 14: the increase
        # alarm must fire after the shift and never before it
        vals = [10.0] * 30 + [14.0] * 30
        rows = [("k", i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "key string, i int, value double")
        out = (
            page_hinkley(df, "value", ["key"], ["i"], delta=0.0, lam=10.0)
            .orderBy("i")
            .collect()
        )
        pre, post = out[:30], out[30:]
        assert all(r["ph_alarm"] == 0 for r in pre)
        assert any(r["ph_alarm"] == 1 for r in post)
        # once the drift accumulates, the alarm stays on
        first = next(i for i, r in enumerate(post) if r["ph_alarm"] == 1)
        assert all(r["ph_alarm"] == 1 for r in post[first:])

    def test_page_hinkley_integer_mode_matches_float(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import page_hinkley

        # on 2-decimal grid data the integer mode differs from float
        # only by the <= half-unit mean rounding: stats within 1 unit
        rows = [
            ("k", i, round(10.0 + (3.7 if i >= 20 else 0.0) + 0.01 * (i % 5), 2))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "key string, i int, value double")
        fl = (
            page_hinkley(df, "value", ["key"], ["i"], lam=5.0)
            .orderBy("i")
            .collect()
        )
        it = (
            page_hinkley(df, "value", ["key"], ["i"], lam=5.0, unit_digits=2)
            .orderBy("i")
            .collect()
        )
        for a, b in zip(fl, it):
            assert abs(a["ph_inc"] - b["ph_inc"]) <= 0.5 + 1e-9
            assert abs(a["ph_dec"] - b["ph_dec"]) <= 0.5 + 1e-9

    def test_ewma_deviation_fixture(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import ewma_deviation

        # hand fixture, alpha=0.5, window 3: at t=3 (value 8) the frame
        # holds [2,4,6] -> weights [.25,.5,1] -> ewma = (0.5+2+6)/1.75
        rows = [("k", 0, 2.0), ("k", 1, 4.0), ("k", 2, 6.0), ("k", 3, 8.0)]
        df = spark.createDataFrame(rows, "key string, i int, value double")
        out = (
            ewma_deviation(df, "value", 3, ["key"], ["i"], alpha=0.5)
            .orderBy("i")
            .collect()
        )
        assert out[0]["ewma"] is None  # no history
        assert abs(out[1]["ewma"] - 2.0) < 1e-12  # single-row window
        assert abs(out[2]["ewma"] - (1.0 + 4.0) / 1.5) < 1e-12
        assert abs(out[3]["ewma"] - (0.5 + 2.0 + 6.0) / 1.75) < 1e-12

    def test_ewma_flags_spike(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import ewma_deviation

        vals = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.1, 9.9, 30.0]
        rows = [("k", i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "key string, i int, value double")
        out = (
            ewma_deviation(df, "value", 8, ["key"], ["i"], threshold=3.0)
            .orderBy("i")
            .collect()
        )
        assert out[-1]["ewma_alarm"] == 1
        assert all(r["ewma_alarm"] == 0 for r in out[:-1])

    def test_robust_zscore_flags_fixture(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            robust_zscore_flags,
        )

        # 10,10.1,9.9,10.2,9.8,10,10.1,9.9,50: med=10.0, residuals
        # [0,.1,.1,.2,.2,0,.1,.1,40] -> MAD=0.1; modified z of 50 =
        # .6745*40/.1 = 269.8 >> 3.5; everything else <= 1.35
        vals = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 50.0]
        df = spark.createDataFrame(
            [("k", i, v) for i, v in enumerate(vals)],
            "key string, i int, value double",
        )
        for digits in (None, 2):
            out = (
                robust_zscore_flags(df, "value", ["key"], unit_digits=digits)
                .orderBy("i")
                .collect()
            )
            assert abs(out[0]["med"] - 10.0) < 1e-9 if digits else True
            assert out[-1]["robust_alarm"] == 1
            assert all(r["robust_alarm"] == 0 for r in out[:-1])

    def test_robust_zscore_zero_mad_never_flags(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            robust_zscore_flags,
        )

        # majority-constant key: MAD == 0 -> no flags in either mode
        vals = [5.0] * 8 + [9.0]
        df = spark.createDataFrame(
            [("k", i, v) for i, v in enumerate(vals)],
            "key string, i int, value double",
        )
        for digits in (None, 2):
            out = robust_zscore_flags(
                df, "value", ["key"], unit_digits=digits
            ).collect()
            assert all(r["robust_alarm"] == 0 for r in out)

    def test_iqr_flags_fixture(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import iqr_flags

        # 1..8 plus an outlier 100: q1=2.5, q3=6.75 over the 9 values?
        # no — compute per fixture: values 1..8,100 sorted; q1 at pos
        # (9-1)*.25=2 -> 3.0, q3 at pos 6 -> 7.0, fences [-3, 13]
        vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0]
        df = spark.createDataFrame(
            [("k", i, v) for i, v in enumerate(vals)],
            "key string, i int, value double",
        )
        for digits in (None, 2):
            out = (
                iqr_flags(df, "value", ["key"], unit_digits=digits)
                .orderBy("i")
                .collect()
            )
            assert abs(out[0]["iqr_lo"] - (-3.0)) < 1e-9
            assert abs(out[0]["iqr_hi"] - 13.0) < 1e-9
            assert out[-1]["iqr_alarm"] == 1
            assert all(r["iqr_alarm"] == 0 for r in out[:-1])

    def test_tukey_robust_fused_matches_composition(self, spark):
        # the fused operator must equal iqr_flags >> robust_zscore_flags
        # value-for-value in both float and integer-exact modes
        import random

        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            iqr_flags,
            robust_zscore_flags,
            tukey_robust_flags,
        )

        rng = random.Random(7)
        rows = [
            (f"k{i % 3}", i, round(rng.uniform(-50, 50), 2)) for i in range(300)
        ]
        rows[17] = ("k0", 17, 400.0)  # one gross outlier
        df = spark.createDataFrame(rows, "key string, i int, value double")
        for digits in (None, 2):
            want_df = robust_zscore_flags(
                iqr_flags(df, "value", ["key"], unit_digits=digits),
                "value",
                ["key"],
                unit_digits=digits,
            )
            got_df = tukey_robust_flags(
                df, "value", ["key"], unit_digits=digits
            )
            cols = [
                "key", "i", "iqr_lo", "iqr_hi", "iqr_alarm",
                "med", "mad", "dev", "robust_alarm",
            ]
            want = [tuple(r) for r in want_df.select(cols).orderBy("i").collect()]
            got = [tuple(r) for r in got_df.select(cols).orderBy("i").collect()]
            assert got == want

    def test_battery_fused_stats_three_scans(self, spark, tmp_path):
        # the detector-battery shape (window detectors + fused
        # Tukey/robust over their output) must read the
        # source exactly 3 times in the FINAL adaptive plan: main pass,
        # fused order-stats pass (q1/median/q3 in one percentile
        # buffer), MAD pass — the duplicated order-stats subtree inside
        # the MAD pass's lineage collapses to a ReusedExchange.
        import random

        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            rolling_zscore,
            tukey_robust_flags,
        )

        rng = random.Random(3)
        rows = [
            (i % 5, i, round(rng.uniform(0, 100), 2)) for i in range(500)
        ]
        src_path = str(tmp_path / "ev")
        spark.createDataFrame(
            rows, "user_id bigint, i bigint, value double"
        ).write.parquet(src_path)
        ev = spark.read.parquet(src_path)
        scored = rolling_zscore(ev, "value", 24, ["user_id"], ["i"])
        scored = tukey_robust_flags(scored, "value", ["user_id"], unit_digits=2)
        scored.collect()  # materialize so AQE finalizes exchange reuse
        plan = scored._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        n_scans = final.count("FileScan")
        assert n_scans == 3, f"expected 3 FileScans, got {n_scans}:\n{final[:4000]}"
        assert "ReusedExchange" in final, final[:4000]

    def test_fused_battery_plan_one_scan_with_trend(self, spark, tmp_path):
        """r14 fused-stats contract: the battery + trend tier reads the source exactly ONCE
        and shuffles exactly ONCE — the per-key order statistics, MAD
        and OLS sufficient statistics ride the main (key, order)
        exchange as partition-window aggregates, with ZERO joins (the
        pre-r14 shape paid 4 FileScans / 4 exchanges / 3 broadcast
        joins per action). Values vs the sequential composition are
        pinned by test_fused_battery_equals_composition."""
        import random

        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            anomaly_battery,
        )

        rng = random.Random(5)
        rows = [(i % 5, i, round(rng.uniform(0, 100), 2)) for i in range(500)]
        src_path = str(tmp_path / "ev")
        spark.createDataFrame(
            rows, "user_id bigint, i bigint, value double"
        ).write.parquet(src_path)
        ev = spark.read.parquet(src_path)
        scored = anomaly_battery(ev, "value", ["user_id"], ["i"], unit_digits=2)
        scored.collect()
        plan = scored._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        n_scans = final.count("FileScan")
        assert n_scans == 1, f"expected 1 FileScan, got {n_scans}"
        n_exchanges = final.count("Exchange hashpartitioning")
        assert n_exchanges == 1, f"expected 1 Exchange, got {n_exchanges}"
        for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
            assert join not in final, f"unexpected {join} in fused battery"
        assert "BatchEvalPython" not in final

    def test_fused_battery_equals_composition(self, spark):
        """anomaly_battery (one minimal-layer plan, built for driver
        plan-time) must be VALUE-identical to the sequential operator
        composition it replaces, trend tier included."""
        import random

        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            anomaly_battery,
            ewma_deviation,
            page_hinkley,
            rolling_zscore,
            trend_ols_flags,
            tukey_robust_flags,
        )

        rng = random.Random(8)
        rows = [
            (i % 4, i, round(rng.uniform(0, 100) + (i % 4) * 0.07 * i, 2))
            for i in range(600)
        ]
        df = spark.createDataFrame(
            rows, "user_id bigint, i bigint, value double"
        )
        composed = rolling_zscore(df, "value", 24, ["user_id"], ["i"])
        composed = page_hinkley(
            composed, "value", ["user_id"], ["i"],
            delta=0.0, lam=10.0, unit_digits=2,
        )
        composed = ewma_deviation(
            composed, "value", 8, ["user_id"], ["i"], alpha=0.5
        )
        composed = tukey_robust_flags(
            composed, "value", ["user_id"], k=1.5, unit_digits=2
        )
        composed = trend_ols_flags(
            composed, "value", ["user_id"], ["i"], unit_digits=2
        )
        fused = anomaly_battery(df, "value", ["user_id"], ["i"], unit_digits=2)
        cols = [
            "user_id", "i", "value_roll_mean", "value_roll_std",
            "value_zscore", "is_anomaly", "ph_inc", "ph_dec", "ph_alarm",
            "ewma", "ewma_dev", "ewma_alarm", "iqr_lo", "iqr_hi",
            "iqr_alarm", "med", "mad", "dev", "robust_alarm",
            "trend_slope", "trend_intercept", "trend_fit", "trend_resid",
            "trend_z", "trend_alarm",
        ]
        want = [tuple(r) for r in composed.select(cols).orderBy("i").collect()]
        got = [tuple(r) for r in fused.select(cols).orderBy("i").collect()]
        assert got == want

    BATTERY_COLS = [
        "user_id", "i", "value_roll_mean", "value_roll_std",
        "value_zscore", "is_anomaly", "ph_inc", "ph_dec", "ph_alarm",
        "ewma", "ewma_dev", "ewma_alarm", "iqr_lo", "iqr_hi",
        "iqr_alarm", "med", "mad", "dev", "robust_alarm",
        "trend_slope", "trend_intercept", "trend_fit", "trend_resid",
        "trend_z", "trend_alarm",
    ]

    def test_fused_battery_equals_composition_with_nulls(self, spark):
        """With NULL targets in the series, the fused battery still
        equals the sequential composition on all 25 columns."""
        import random

        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            anomaly_battery,
            ewma_deviation,
            page_hinkley,
            rolling_zscore,
            trend_ols_flags,
            tukey_robust_flags,
        )

        rng = random.Random(9)
        rows = [
            (i % 4, i, None if i % 37 == 5 else round(rng.uniform(0, 100) + 0.05 * i, 2))
            for i in range(600)
        ]
        df = spark.createDataFrame(rows, "user_id bigint, i bigint, value double")
        keys, order = ["user_id"], ["i"]
        composed = rolling_zscore(df, "value", 24, keys, order)
        composed = page_hinkley(composed, "value", keys, order, unit_digits=2)
        composed = ewma_deviation(composed, "value", 8, keys, order)
        composed = tukey_robust_flags(composed, "value", keys, unit_digits=2)
        composed = trend_ols_flags(composed, "value", keys, order, unit_digits=2)
        fused = anomaly_battery(df, "value", keys, order, unit_digits=2)
        cols = self.BATTERY_COLS
        want = [tuple(r) for r in composed.select(cols).orderBy("i").collect()]
        got = [tuple(r) for r in fused.select(cols).orderBy("i").collect()]
        assert got == want

    @pytest.mark.parametrize("unit_digits", [None, 2])
    def test_faces_accept_spaced_target(self, spark, unit_digits):
        """Every battery face reads a target whose name needs quoting
        (``my value``) exactly as it reads ``value``."""
        import random

        from amonaly_detection_in_time_series_data_spark.operators import anomaly as A

        rng = random.Random(4)
        rows = [(i % 3, i, round(rng.uniform(0, 10), 2)) for i in range(90)]
        df = spark.createDataFrame(rows, "user_id bigint, i bigint, value double")
        spaced = df.withColumnRenamed("value", "my value")
        keys, order, ud = ["user_id"], ["i"], unit_digits
        faces = {
            "page_hinkley": lambda d, t: A.page_hinkley(d, t, keys, order, unit_digits=ud),
            "iqr_flags": lambda d, t: A.iqr_flags(d, t, keys, unit_digits=ud),
            "robust_zscore_flags": lambda d, t: A.robust_zscore_flags(d, t, keys, unit_digits=ud),
            "tukey_robust_flags": lambda d, t: A.tukey_robust_flags(d, t, keys, unit_digits=ud),
            "trend_ols_flags": lambda d, t: A.trend_ols_flags(d, t, keys, order, unit_digits=ud),
        }
        if ud is None:
            faces["ewma_deviation"] = lambda d, t: A.ewma_deviation(d, t, 8, keys, order)
        else:
            faces["trend_ols_expanding"] = lambda d, t: A.trend_ols_expanding(
                d, t, keys, order, unit_digits=ud
            )
            faces["anomaly_battery"] = lambda d, t: A.anomaly_battery(
                d, t, keys, order, unit_digits=ud
            )
        for name, face in faces.items():
            want = face(df, "value")
            got = face(spaced, "my value")
            assert got.columns == [
                "my value" if c == "value" else c.replace("value_", "my value_")
                for c in want.columns
            ], name
            assert got.orderBy("i").collect() == want.orderBy("i").collect(), name

    def test_integer_modes_read_nan_as_null(self, spark):
        """The integer-unit snap reads a NaN target as NULL (it raised
        ANSI ``CAST_OVERFLOW``): each integer-mode face on a frame with
        planted NaN equals its output on the same frame with NULL
        there."""
        import random

        from amonaly_detection_in_time_series_data_spark.operators import anomaly as A

        rng = random.Random(6)
        rows = [
            (i % 3, i, float("nan") if i % 11 == 4 else round(rng.uniform(0, 10), 2))
            for i in range(120)
        ]
        nan = spark.createDataFrame(rows, "user_id bigint, i bigint, value double")
        null = nan.selectExpr("user_id", "i", "nullif(value, double('NaN')) AS value")
        keys, order = ["user_id"], ["i"]
        faces = {
            "page_hinkley": lambda d: A.page_hinkley(d, "value", keys, order, unit_digits=2),
            "tukey_robust_flags": lambda d: A.tukey_robust_flags(d, "value", keys, unit_digits=2),
            "trend_ols_flags": lambda d: A.trend_ols_flags(
                d, "value", keys, order, unit_digits=2
            ),
        }
        for name, face in faces.items():
            want = face(null).drop("value").orderBy("i").collect()
            got = face(nan).drop("value").orderBy("i").collect()
            assert got == want, name
            assert any(v is not None for r in got for v in r[2:]), name

    def test_keyless_faces_equal_constant_key(self, spark):
        """``key_cols=[]`` (one global series) equals the keyed face over
        a constant key: ``trend_ols_flags`` on its float, integer and
        ``x_col`` paths."""
        import random

        from amonaly_detection_in_time_series_data_spark.operators import anomaly as A

        rng = random.Random(10)
        rows = [
            (0, i, None if i % 29 == 3 else round(rng.uniform(0, 50) + 0.1 * i, 2))
            for i in range(150)
        ]
        df = spark.createDataFrame(rows, "k int, i bigint, value double")
        order = ["i"]
        faces = {
            "trend float": lambda d, ks: A.trend_ols_flags(d, "value", ks, order),
            "trend integer": lambda d, ks: A.trend_ols_flags(
                d, "value", ks, order, unit_digits=2
            ),
            "trend x_col": lambda d, ks: A.trend_ols_flags(d, "value", ks, x_col="i"),
        }
        for name, face in faces.items():
            keyed = face(df, ["k"]).drop("k")
            keyless = face(df.drop("k"), [])
            assert keyless.columns == keyed.columns, name
            want = keyed.orderBy("i").collect()
            assert keyless.orderBy("i").collect() == want, name
            assert any(r["trend_alarm"] is not None for r in want), name


class TestBucketedRolling:
    def test_matches_single_partition_window(self, spark):
        # key-less series parallelization must equal the single-window result
        rows = [
            (i, (pd.Timestamp("2024-01-01") + pd.Timedelta(hours=6 * i)).to_pydatetime(), float(i % 17))
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "pos long, ts timestamp, value double")
        bucketed = bucketed_rolling(
            df, "value", 24, ["mean"], ["ts", "pos"], bucket="30 days"
        )
        from pyspark.sql import Window

        w = Window.orderBy("ts", "pos").rowsBetween(-24, -1)
        expected = df.withColumn("exp", F.avg("value").over(w))
        joined = bucketed.join(expected.select("pos", "exp"), "pos").collect()
        assert len(joined) == 400
        for r in joined:
            a, b = r["value_roll_mean_24h"], r["exp"]
            if b is None:
                assert a is None
            else:
                assert a == pytest.approx(b, rel=1e-9)

    def test_exact_on_gapped_bursty_series(self, spark):
        """Irregular occupancy: a dense burst, then buckets holding FAR
        fewer than window_rows rows, then a completely empty bucket,
        then a second burst whose early frames reach across the gap.
        The r5 one-previous-bucket overlap under-filled these frames;
        the global-index design must equal the single-partition window
        on every row."""
        offs = []
        # burst: 60 rows over ~2 days
        offs += [pd.Timedelta(minutes=45 * i) for i in range(60)]
        # sparse tail: 5 rows across the next ~1.5 weeks (2-3 per bucket)
        offs += [pd.Timedelta(days=3 + 2 * i, hours=i) for i in range(5)]
        # >1 bucket of total silence, then a second burst
        offs += [pd.Timedelta(days=23, hours=i) for i in range(40)]
        rows = [
            (i, (pd.Timestamp("2024-01-01") + o).to_pydatetime(),
             float((i * 7) % 13))
            for i, o in enumerate(offs)
        ]
        df = spark.createDataFrame(rows, "pos long, ts timestamp, value double")
        bucketed = bucketed_rolling(
            df, "value", 24, ["mean", "std"], ["ts", "pos"], bucket="7 days"
        )
        from pyspark.sql import Window

        w = Window.orderBy("ts", "pos").rowsBetween(-24, -1)
        expected = df.withColumn("em", F.avg("value").over(w)).withColumn(
            "es", F.stddev_samp("value").over(w)
        )
        joined = bucketed.join(expected.select("pos", "em", "es"), "pos").collect()
        assert len(joined) == len(rows)
        for r in joined:
            for got, want in (
                (r["value_roll_mean_24h"], r["em"]),
                (r["value_roll_std_24h"], r["es"]),
            ):
                if want is None:
                    assert got is None, f"pos={r['pos']}"
                else:
                    assert got == pytest.approx(want, rel=1e-9), f"pos={r['pos']}"


    def test_auto_bucket_exact_and_parallel(self, spark):
        """r11 bucket='auto': width follows the data (one tiny
        min/max/count aggregate) targeting min(n/2w, 4x parallelism)
        buckets. Must stay EXACT vs the single-window oracle (results
        are bucketing-invariant) and actually split the series into
        more than one bucket."""
        rows = [
            (i, (pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i)).to_pydatetime(),
             float((i * 11) % 23))
            for i in range(600)
        ]
        df = spark.createDataFrame(rows, "pos long, ts timestamp, value double")
        bucketed = bucketed_rolling(
            df, "value", 12, ["mean"], ["ts", "pos"], bucket="auto"
        )
        from pyspark.sql import Window

        w = Window.orderBy("ts", "pos").rowsBetween(-12, -1)
        expected = df.withColumn("exp", F.avg("value").over(w))
        joined = bucketed.join(expected.select("pos", "exp"), "pos").collect()
        assert len(joined) == 600
        for r in joined:
            a, b = r["value_roll_mean_12h"], r["exp"]
            if b is None:
                assert a is None
            else:
                assert a == pytest.approx(b, rel=1e-9)
        # empty input falls through cleanly (no starts -> legacy path)
        empty = spark.createDataFrame([], "pos long, ts timestamp, value double")
        assert (
            bucketed_rolling(
                empty, "value", 12, ["mean"], ["ts", "pos"], bucket="auto"
            ).count()
            == 0
        )


class TestSources:
    def test_missing_csv_returns_empty(self, spark):
        df = load_csv(spark, "/tmp/definitely_missing_9a8b7c.csv")
        assert df.count() == 0

    def test_csv_roundtrip_with_header_cleanup(self, spark, tmp_path):
        p = tmp_path / "smard.csv"
        p.write_text(
            "Start date; value col ;note\n"
            "Apr 01, 2016 12:00 AM;1.234,5;x\n"
            "Apr 01, 2016 01:00 AM;-;y\n"
        )
        df = load_csv(spark, str(p))
        assert df.columns == ["Start date", "value col", "note"]
        assert df.count() == 2

    def test_schema_evolution_merge_and_contract(self, spark, tmp_path):
        """Files written at three schema vintages (v1: id+a; v2 adds b;
        v3 never wrote a) read back as ONE stable contract schema with
        typed nulls where a vintage lacked the column."""
        from pyspark.sql import types as T

        from amonaly_detection_in_time_series_data_spark.sources.readers import (
            load_evolving_table,
        )

        root = tmp_path / "evolving"
        spark.createDataFrame(
            [(1, 10.0)], "id bigint, a double"
        ).write.parquet(str(root / "batch=1"))
        spark.createDataFrame(
            [(2, 20.0, "x")], "id bigint, a double, b string"
        ).write.parquet(str(root / "batch=2"))
        spark.createDataFrame(
            [(3, "y", 99)], "id bigint, b string, junk int"
        ).write.parquet(str(root / "batch=3"))

        target = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("a", T.DoubleType()),
                T.StructField("b", T.StringType()),
                T.StructField("c", T.IntegerType()),  # in no file yet
            ]
        )
        got = load_evolving_table(spark, str(root / "batch=*"), target)
        assert [f.name for f in got.schema.fields] == ["id", "a", "b", "c"]
        assert got.schema["c"].dataType == T.IntegerType()
        rows = {r["id"]: r for r in got.collect()}
        assert rows[1]["a"] == 10.0 and rows[1]["b"] is None
        assert rows[2]["b"] == "x"
        assert rows[3]["a"] is None and rows[3]["b"] == "y"
        assert all(r["c"] is None for r in rows.values())
        assert "junk" not in got.columns


class TestPlanShape:
    """Scale discipline: assert the physical plans we rely on at 100 TB."""

    def test_filter_and_projection_pushdown(self, spark, sf_dir):
        df = (
            load_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_quantity") > 40)
            .select("l_orderkey", "l_quantity")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan
        assert "ReadSchema" in plan
        # only the two needed columns are read
        assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]

    def test_runtime_bloom_filter_injects_on_selective_join(self, spark, sf_dir):
        """Spark's runtime row-level filter: a selective filter on the
        build side of a shuffle join injects a bloom filter into the
        probe-side SCAN (`might_contain`), so the big fact table drops
        non-joining rows before the exchange. At 100 TB this fires
        automatically (probe scan > the 10 GB default threshold); here
        the thresholds are lowered to exercise the mechanism on test
        data, and restored after."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
                "100MB"
            ),
        }
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            orders = load_table(spark, sf_dir, "orders")
            li = load_table(spark, sf_dir, "lineitem")
            sel = orders.filter(F.col("o_totalprice") > 400000).select(
                "o_orderkey"
            )
            j = li.join(sel, li.l_orderkey == sel.o_orderkey)
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "might_contain" in plan
            assert j.count() >= 0  # and it executes
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    def test_dim_join_is_broadcast(self, spark, sf_dir):
        nation = load_table(spark, sf_dir, "nation")
        cust = load_table(spark, sf_dir, "customer")
        df = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_feature_stage_single_shuffle(self, spark, sf_dir):
        """All window features share partitionBy(user_id) -> exactly one
        exchange in the whole feature stage (SURVEY §4.2)."""
        from amonaly_detection_in_time_series_data_spark.operators.features import featurize

        ev = load_table(spark, sf_dir, "events")
        feats = featurize(ev, "value", ["user_id"], ["ts", "event_id"])
        plan = feats._jdf.queryExecution().executedPlan().toString()
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}:\n{plan[:2000]}"


class TestSequenceInference:
    def test_reconstruction_errors_match_numpy(self, spark, sf_dir):
        """Catalyst scoring == pure-numpy PCA on the same fit sample."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            sequence_reconstruction_scores,
        )
        from amonaly_detection_in_time_series_data_spark.operators.sequences import (
            create_sequences,
        )

        ev = load_table(spark, sf_dir, "events")
        seqs = create_sequences(ev, ["value"], 6, ["user_id"], ["ts", "event_id"])
        n = seqs.count()
        scored = sequence_reconstruction_scores(seqs, "seq", k=2, fit_rows=n)
        got = {
            (r["user_id"], r["seq_start_ts"]): r["recon_error"]
            for r in scored.collect()
        }

        rows = seqs.orderBy("user_id", "seq_start_ts").collect()
        x = np.array([np.array(r["seq"], dtype=np.float64).ravel() for r in rows])
        mean = x.mean(axis=0)
        _, _, vt = np.linalg.svd(x - mean, full_matrices=False)
        comps = vt[:2]
        centered = x - mean
        recon = (centered @ comps.T) @ comps
        resid = centered - recon
        want = np.einsum("ij,ij->i", resid, resid)
        assert len(got) == len(rows) == n > 0
        for r, w in zip(rows, want):
            assert got[(r["user_id"], r["seq_start_ts"])] == pytest.approx(
                w, rel=1e-9, abs=1e-12
            )

    def test_sql_scorer_large_d_hof_path(self, spark, sf_dir):
        """d = L*f > 64 takes the higher-order (zip_with/aggregate)
        fallback instead of flat expansion; it must agree with the
        numpy model on every sequence. Also guards the HOF path against
        the free-expression-in-lambda quadratic: the projections are
        bound columns, so a 70-wide sequence scores in the same pass
        shape as a 6-wide one."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            fit_linear_ae,
            sequence_reconstruction_scores,
        )
        from amonaly_detection_in_time_series_data_spark.operators.sequences import (
            create_sequences,
        )

        ev = load_table(spark, sf_dir, "events")
        seqs = create_sequences(ev, ["value"], 70, ["user_id"], ["ts", "event_id"])
        n = seqs.count()
        assert n > 0
        model = fit_linear_ae(seqs, "seq", 2, n)
        rows = seqs.collect()
        x = np.array([np.array(r["seq"], dtype=np.float64).ravel() for r in rows])
        want = model.reconstruction_errors(x)
        scored = sequence_reconstruction_scores(seqs, "seq", model=model)
        got = {
            (r["user_id"], r["seq_start_ts"]): r["recon_error"]
            for r in scored.collect()
        }
        assert len(got) == len(rows)
        for r, w in zip(rows, want):
            assert got[(r["user_id"], r["seq_start_ts"])] == pytest.approx(
                w, rel=1e-9, abs=1e-12
            )

    def test_model_picks_scorer(self, spark, sf_dir):
        """No selector: an LSTM model scores through the Arrow
        ``mapInPandas`` slot, a ``LinearAEModel`` as Catalyst
        expressions with no Python stage in its plan."""
        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            fit_linear_ae,
            sequence_reconstruction_scores,
        )
        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            init_lstm_ae,
        )
        from amonaly_detection_in_time_series_data_spark.operators.sequences import (
            create_sequences,
        )

        ev = load_table(spark, sf_dir, "events")
        seqs = create_sequences(ev, ["value"], 6, ["user_id"], ["ts", "event_id"])
        lstm = init_lstm_ae(input_dim=1, hidden_dim=4, embedding_dim=2,
                            n_layers=1, seed=5)
        scored = sequence_reconstruction_scores(seqs, "seq", model=lstm)
        plan = scored._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
        errs = [r["recon_error"] for r in scored.collect()]
        assert errs and all(e is not None and e >= 0 for e in errs)

        linear = fit_linear_ae(seqs, "seq", 2, 64)
        scored = sequence_reconstruction_scores(seqs, "seq", model=linear)
        plan = scored._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInPandas" not in plan, plan
        assert scored.count() == len(errs)

    def test_fit_order_cols_honored(self, spark, sf_dir):
        """An explicit order_cols takes the deterministic
        TakeOrderedAndProject sample — same model regardless of the
        session's shuffle-partition count."""
        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            fit_linear_ae,
        )
        from amonaly_detection_in_time_series_data_spark.operators.sequences import (
            create_sequences,
        )

        ev = load_table(spark, sf_dir, "events")
        seqs = create_sequences(ev, ["value"], 6, ["user_id"], ["ts", "event_id"])
        models = []
        for parts in ("2", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            try:
                models.append(
                    fit_linear_ae(
                        seqs, "seq", k=2, fit_rows=64,
                        order_cols=["user_id", "seq_start_ts"],
                    )
                )
            finally:
                spark.conf.unset("spark.sql.shuffle.partitions")
        import numpy as np

        assert np.allclose(models[0].mean, models[1].mean)
        assert np.allclose(
            np.abs(models[0].components), np.abs(models[1].components)
        )


class TestSinks:
    def test_partitioned_parquet_roundtrip_with_pruning(self, spark, sf_dir):
        """write_parquet(partitionBy) -> re-read equals source; a filter
        on the partition column prunes at the scan (PartitionFilters)."""
        import tempfile, os

        from amonaly_detection_in_time_series_data_spark.sources.writers import (
            write_parquet,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        out = os.path.join(tempfile.gettempdir(), "sink_test_parquet")
        write_parquet(ev, out, partition_by=["event_type"])
        back = spark.read.parquet(out)
        assert back.count() == ev.count()
        a = {r["event_id"]: (r["event_type"], r["value"]) for r in back.collect()}
        b = {r["event_id"]: (r["event_type"], r["value"]) for r in ev.collect()}
        assert a == b

        one = back.filter(F.col("event_type") == "click")
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "event_type" in plan.split(
            "PartitionFilters"
        )[1][:120]


class TestSeasonalNaiveForecast:
    def test_forecast_and_expanding_mae(self, spark):
        from datetime import datetime, timedelta

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            seasonal_naive_forecast,
        )

        # period-3 series 1,2,3,1,2,3,2,2,3: forecasts from t=3 are the
        # value 3 rows back; errors 0,0,0,1,0,0 -> expanding MAE
        # 0,0,0,.25,.2,1/6
        base = datetime(2024, 1, 1)
        vals = [1.0, 2.0, 3.0, 1.0, 2.0, 3.0, 2.0, 2.0, 3.0]
        rows = [("k", base + timedelta(hours=i), v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
        for digits in (None, 6):
            out = (
                seasonal_naive_forecast(
                    df, "ts", "value", ["key"], season_rows=3,
                    unit_digits=digits,
                )
                .orderBy("ts")
                .collect()
            )
            assert [r["forecast"] for r in out[:3]] == [None] * 3
            assert [r["forecast"] for r in out[3:]] == [1.0, 2.0, 3.0, 1.0, 2.0, 3.0]
            assert [r["abs_err"] for r in out[3:]] == [0.0, 0.0, 0.0, 1.0, 0.0, 0.0]
            assert out[3]["naive_mae"] == 0.0
            got = out[-1]["naive_mae"]
            want = 1.0 / 6.0
            # integer mode rounds to the micro-unit grid (ties up)
            tol = 1e-6 if digits else 1e-12
            assert abs(got - want) < tol
            assert out[2]["naive_mae"] is None  # no forecast yet


class TestTimeseriesOps:
    def test_asof_join_null_right_values_whole_row(self, spark):
        """Right value columns with legitimate NULLs: the attached values
        must all come from the SAME (latest) right row, matching pandas
        merge_asof — not per-column forward-fill that stitches rows."""
        import datetime as dt

        import pandas as pd

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            asof_join,
        )

        t = lambda s: dt.datetime.fromisoformat(s)
        left = spark.createDataFrame(
            [(1, t("2024-01-01 00:05:00")), (1, t("2024-01-01 00:20:00"))],
            "k int, lts timestamp",
        )
        # latest right row before 00:20 has a NULL in `a`; pandas attaches
        # that NULL, not the older row's a=10.
        right = spark.createDataFrame(
            [
                (1, t("2024-01-01 00:01:00"), 10.0, 100.0),
                (1, t("2024-01-01 00:10:00"), None, 200.0),
            ],
            "k int, rts timestamp, a double, b double",
        )
        got = {
            r["lts"]: (r["a"], r["b"])
            for r in asof_join(
                left, right, ["k"], "lts", "rts", ["a", "b"]
            ).collect()
        }
        lp = pd.DataFrame({"k": [1, 1],
                           "lts": [t("2024-01-01 00:05:00"), t("2024-01-01 00:20:00")]})
        rp = pd.DataFrame({"k": [1, 1],
                           "rts": [t("2024-01-01 00:01:00"), t("2024-01-01 00:10:00")],
                           "a": [10.0, None], "b": [100.0, 200.0]})
        want = pd.merge_asof(lp.sort_values("lts"), rp.sort_values("rts"),
                             left_on="lts", right_on="rts", by="k")
        for _, row in want.iterrows():
            ga, gb = got[row["lts"].to_pydatetime()]
            assert (ga is None) == pd.isna(row["a"]) and (
                ga is None or ga == row["a"]
            )
            assert gb == row["b"]

    def test_asof_tolerance_checks_attached_row(self, spark):
        """Tolerance must be evaluated against the attached right row's
        ts, which with whole-row fill is the row the values came from."""
        import datetime as dt

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            asof_join,
        )

        t = lambda s: dt.datetime.fromisoformat(s)
        left = spark.createDataFrame(
            [(1, t("2024-01-01 01:00:00"))], "k int, lts timestamp"
        )
        right = spark.createDataFrame(
            [(1, t("2024-01-01 00:00:00"), 1.0)], "k int, rts timestamp, a double"
        )
        ok = asof_join(left, right, ["k"], "lts", "rts", ["a"],
                       tolerance="2 hours").collect()
        assert ok[0]["a"] == 1.0
        stale = asof_join(left, right, ["k"], "lts", "rts", ["a"],
                          tolerance="30 minutes").collect()
        assert stale[0]["a"] is None

    def test_asof_directions_match_pandas(self, spark):
        """forward/nearest (r9) against pandas merge_asof on a fixture
        covering: no-match edges on both sides, equal-ts inclusivity,
        and a genuine nearest tie (pinned to BACKWARD, our documented
        rule — pandas' tie behavior is version-dependent, so the tie
        row is asserted directly, not via pandas)."""
        import datetime as dt

        import pandas as pd

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            asof_join,
        )

        t = lambda s: dt.datetime.fromisoformat(s)
        lts = ["00:00:30", "00:02:00", "00:05:00", "00:06:30", "00:09:30"]
        rts = ["00:01:00", "00:05:00", "00:08:00"]
        left = spark.createDataFrame(
            [(1, t(f"2024-01-01 {s}")) for s in lts], "k int, lts timestamp"
        )
        right = spark.createDataFrame(
            [
                (1, t(f"2024-01-01 {s}"), float(i))
                for i, s in enumerate(rts)
            ],
            "k int, rts timestamp, a double",
        )
        lp = pd.DataFrame({"k": 1, "lts": [t(f"2024-01-01 {s}") for s in lts]})
        rp = pd.DataFrame(
            {"k": 1, "rts": [t(f"2024-01-01 {s}") for s in rts],
             "a": [0.0, 1.0, 2.0]}
        )
        for direction in ("backward", "forward"):
            got = {
                r["lts"]: r["a"]
                for r in asof_join(
                    left, right, ["k"], "lts", "rts", ["a"],
                    direction=direction,
                ).collect()
            }
            want = pd.merge_asof(
                lp, rp, left_on="lts", right_on="rts", by="k",
                direction=direction,
            )
            for _, row in want.iterrows():
                g = got[row["lts"].to_pydatetime()]
                assert (g is None) == pd.isna(row["a"]) and (
                    g is None or g == row["a"]
                ), (direction, row["lts"])
        near = {
            r["lts"]: r["a"]
            for r in asof_join(
                left, right, ["k"], "lts", "rts", ["a"],
                direction="nearest",
            ).collect()
        }
        assert near[t("2024-01-01 00:00:30")] == 0.0  # only fwd... nearest=r0
        assert near[t("2024-01-01 00:02:00")] == 0.0  # 60s back vs 180s fwd
        assert near[t("2024-01-01 00:05:00")] == 1.0  # equal ts
        # genuine tie: 06:30 is 90s from both 05:00 and 08:00 -> BACKWARD
        assert near[t("2024-01-01 00:06:30")] == 1.0
        assert near[t("2024-01-01 00:09:30")] == 2.0  # after last right

    def test_asof_direction_tolerance_and_validation(self, spark):
        import datetime as dt

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            asof_join,
        )

        t = lambda s: dt.datetime.fromisoformat(s)
        left = spark.createDataFrame(
            [(1, t("2024-01-01 01:00:00"))], "k int, lts timestamp"
        )
        right = spark.createDataFrame(
            [(1, t("2024-01-01 02:30:00"), 1.0)], "k int, rts timestamp, a double"
        )
        ok = asof_join(left, right, ["k"], "lts", "rts", ["a"],
                       tolerance="2 hours", direction="forward").collect()
        assert ok[0]["a"] == 1.0
        far = asof_join(left, right, ["k"], "lts", "rts", ["a"],
                        tolerance="30 minutes", direction="forward").collect()
        assert far[0]["a"] is None
        # nearest with tolerance: the (only) forward row is beyond it
        none = asof_join(left, right, ["k"], "lts", "rts", ["a"],
                         tolerance="30 minutes", direction="nearest").collect()
        assert none[0]["a"] is None
        import pytest as _pytest

        with _pytest.raises(ValueError, match="direction"):
            asof_join(left, right, ["k"], "lts", "rts", ["a"],
                      direction="sideways")

    def test_resample_multi_unit_step(self, spark):
        """'15 minutes' buckets must land on the sequence() grid (the
        date_trunc formulation silently dropped every aggregate)."""
        import datetime as dt

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            resample_grid,
        )

        t = lambda s: dt.datetime.fromisoformat(s)
        df = spark.createDataFrame(
            [
                (1, t("2024-01-01 00:03:00"), 1.0),
                (1, t("2024-01-01 00:17:00"), 3.0),
                (1, t("2024-01-01 00:47:00"), 5.0),
            ],
            "k int, ts timestamp, v double",
        )
        out = {
            r["bucket_ts"]: r["v"]
            for r in resample_grid(
                df, ["k"], "ts", ["v"], step="15 minutes", agg="avg"
            ).collect()
        }
        assert out == {
            t("2024-01-01 00:00:00"): 1.0,
            t("2024-01-01 00:15:00"): 3.0,
            t("2024-01-01 00:30:00"): 3.0,  # empty bucket forward-filled
            t("2024-01-01 00:45:00"): 5.0,
        }

    def test_resample_calendar_step(self, spark):
        """'1 month' must use the date_trunc branch (F.window rejects
        calendar intervals); multi-unit calendar steps raise loudly."""
        import datetime as dt

        import pytest

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            resample_grid,
        )

        t = lambda s: dt.datetime.fromisoformat(s)
        df = spark.createDataFrame(
            [
                (1, t("2024-01-15 12:00:00"), 2.0),
                (1, t("2024-03-02 00:00:00"), 6.0),
            ],
            "k int, ts timestamp, v double",
        )
        out = {
            r["bucket_ts"]: r["v"]
            for r in resample_grid(
                df, ["k"], "ts", ["v"], step="1 month", agg="avg"
            ).collect()
        }
        assert out == {
            t("2024-01-01 00:00:00"): 2.0,
            t("2024-02-01 00:00:00"): 2.0,  # empty month forward-filled
            t("2024-03-01 00:00:00"): 6.0,
        }
        with pytest.raises(ValueError, match="calendar steps"):
            resample_grid(df, ["k"], "ts", ["v"], step="2 months")


class TestArtifacts:
    def test_mllib_scaler_roundtrip(self, spark, sf_dir, tmp_path):
        """S4: save + reload the fitted MinMaxScaler pipeline; reloaded
        model transforms identically (reference main.py:177-179)."""
        from amonaly_detection_in_time_series_data_spark.operators.artifacts import (
            load_ml,
            save_ml,
        )
        from amonaly_detection_in_time_series_data_spark.operators.scaling import (
            minmax_scale_ml,
        )

        ev = load_table(spark, sf_dir, "events").select("event_id", "value")
        scaled, model = minmax_scale_ml(ev, ["value"])
        path = str(tmp_path / "scaler_model")
        save_ml(model, path)
        reloaded = load_ml(path)
        a = {
            r["event_id"]: r["features_scaled"][0]
            for r in scaled.collect()
        }
        b = {
            r["event_id"]: r["features_scaled"][0]
            for r in reloaded.transform(ev).drop("__features").collect()
        }
        assert a == b and len(a) > 0

    def test_linear_ae_roundtrip_and_best_checkpoint(self, spark, sf_dir, tmp_path):
        """S3: npz round-trip gives identical reconstruction errors;
        BestCheckpoint keeps only the lowest-loss artifact
        (reference main.py:48-55 save_best_only)."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.artifacts import (
            BestCheckpoint,
            load_linear_ae,
            save_linear_ae,
        )
        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            LinearAEModel,
            fit_linear_ae,
        )
        from amonaly_detection_in_time_series_data_spark.operators.sequences import (
            create_sequences,
        )

        ev = load_table(spark, sf_dir, "events")
        seqs = create_sequences(ev, ["value"], 6, ["user_id"], ["ts", "event_id"])
        model = fit_linear_ae(seqs, "seq", k=2, fit_rows=256)
        p = str(tmp_path / "ae.npz")
        save_linear_ae(model, p)
        back = load_linear_ae(p)
        x = np.random.default_rng(0).normal(size=(32, model.mean.shape[0]))
        np.testing.assert_array_equal(
            model.reconstruction_errors(x), back.reconstruction_errors(x)
        )

        ckpt = BestCheckpoint(str(tmp_path / "ckpt"))
        worse = LinearAEModel(model.mean + 1.0, model.components)
        assert ckpt.offer(0.5, model) is True
        assert ckpt.offer(0.9, worse) is False  # not an improvement
        best = ckpt.load_best()
        np.testing.assert_array_equal(best.mean, model.mean)
        assert ckpt.best_loss == 0.5
        assert ckpt.offer(0.1, worse) is True  # improvement replaces
        np.testing.assert_array_equal(ckpt.load_best().mean, worse.mean)


class TestArrivalOrder:
    def test_stamp_arrival_order_file_major(self, spark, tmp_path):
        """arrival_id orders by (file, intra-file position): rows from
        b.csv sort after every row from a.csv regardless of which split
        Spark schedules first."""
        from pyspark.sql import types as T

        from amonaly_detection_in_time_series_data_spark.sources.readers import (
            load_csv,
            stamp_arrival_order,
        )

        (tmp_path / "a.csv").write_text("x\n1\n2\n")
        (tmp_path / "b.csv").write_text("x\n3\n4\n")
        schema = T.StructType([T.StructField("x", T.StringType())])
        df = stamp_arrival_order(load_csv(spark, str(tmp_path), schema=schema))
        rows = df.orderBy("arrival_id").select("x").collect()
        assert [r["x"] for r in rows] == ["1", "2", "3", "4"]


class TestEpochTraining:
    def test_orthogonal_iteration_converges_to_pca(self, spark, sf_dir, tmp_path):
        """ML2: the distributed epoch loop's loss decreases from random
        init and converges to the PCA optimum; BestCheckpoint keeps the
        best epoch."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.artifacts import (
            BestCheckpoint,
        )
        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            fit_linear_ae_epochs,
        )
        from amonaly_detection_in_time_series_data_spark.operators.sequences import (
            create_sequences,
        )

        ev = load_table(spark, sf_dir, "events")
        seqs = create_sequences(ev, ["value"], 6, ["user_id"], ["ts", "event_id"])
        ckpt = BestCheckpoint(str(tmp_path / "ck"))
        model, losses = fit_linear_ae_epochs(
            seqs, "seq", k=2, epochs=5, seed=0, checkpoint=ckpt
        )
        assert len(losses) == 5
        assert losses[-1] < losses[0]  # random init -> fitted subspace
        assert ckpt.best_loss == min(losses)

        # S3 reload-best contract (reference main.py:48-55): the model
        # read back from disk scores the SAME loss the in-memory best
        # epoch measured (rel tol for distributed-sum float jitter)
        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            score_linear_ae_sql,
        )

        best = ckpt.load_best()
        rescored = (
            score_linear_ae_sql(seqs.select("seq"), best, "seq", "__err")
            .agg(F.avg("__err"))
            .collect()[0][0]
        )
        assert abs(rescored - min(losses)) <= 1e-6 * max(1.0, abs(min(losses)))

        # optimal loss via numpy SVD on the full data
        rows = seqs.select("seq").collect()
        x = np.array([np.array(r["seq"], dtype=np.float64).reshape(-1) for r in rows])
        mean = x.mean(axis=0)
        _, s, _ = np.linalg.svd(x - mean, full_matrices=False)
        opt = (s[2:] ** 2).sum() / len(x)  # residual variance beyond top-2
        assert losses[-1] <= opt * 1.10  # within 10% of the PCA optimum


class TestLSTMAutoencoder:
    """ML1 — the numpy LSTM-AE (reference deep_learning_models.py:6-94)."""

    def test_lstm_cell_two_step_hand_fixture(self):
        """The cell recurrence against a hand-computed 2-step fixture:
        1 unit, 1 input, all input weights 0.5, recurrent weights 0.25,
        b_ih 0.1, b_hh 0; inputs 1.0 then 2.0. Expected values derived
        by hand from the published LSTM equations (gates i=f=o=sigmoid,
        g=tanh; c'=f*c+i*g; h'=o*tanh(c'))."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            lstm_cell_step,
        )

        w_ih = np.full((4, 1), 0.5)
        w_hh = np.full((4, 1), 0.25)
        b_ih = np.full(4, 0.1)
        b_hh = np.zeros(4)
        h = np.zeros((1, 1))
        c = np.zeros((1, 1))
        h, c = lstm_cell_step(np.array([[1.0]]), h, c, w_ih, w_hh, b_ih, b_hh)
        # step 1: every gate pre-activation = 1.0*0.5 + 0.1 = 0.6
        # c1 = sigmoid(0.6)*tanh(0.6), h1 = sigmoid(0.6)*tanh(c1)
        assert c[0, 0] == pytest.approx(0.346749439688, abs=1e-10)
        assert h[0, 0] == pytest.approx(0.215319685740, abs=1e-10)
        h, c = lstm_cell_step(np.array([[2.0]]), h, c, w_ih, w_hh, b_ih, b_hh)
        # step 2: pre-activation = 2*0.5 + 0.1 + h1*0.25 = 1.153829921435
        assert c[0, 0] == pytest.approx(0.886228469041, abs=1e-10)
        assert h[0, 0] == pytest.approx(0.539388521774, abs=1e-10)

    def test_forward_matches_scalar_oracle(self):
        """The full vectorized autoencoder forward (2-layer encoder ->
        bottleneck -> repeat -> 2-layer decoder -> output head) against
        a from-scratch scalar Python reimplementation that shares no
        code with the operator."""
        import math

        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            init_lstm_ae,
        )

        in_dim, hid, emb, layers, seq_len = 2, 3, 2, 2, 4
        m = init_lstm_ae(in_dim, hid, emb, layers, seed=7)
        rng = np.random.default_rng(1)
        x = rng.normal(size=(3, seq_len, in_dim))
        got = m.forward(x)

        def sig(v):
            return 1.0 / (1.0 + math.exp(-v))

        def run_lstm_scalar(seq, prefix):
            s = m.state
            for l in range(layers):
                w_ih, w_hh = s[f"{prefix}.weight_ih_l{l}"], s[f"{prefix}.weight_hh_l{l}"]
                b = s[f"{prefix}.bias_ih_l{l}"] + s[f"{prefix}.bias_hh_l{l}"]
                h = [0.0] * hid
                c = [0.0] * hid
                out = []
                for xt in seq:
                    pre = [
                        sum(w_ih[r][j] * xt[j] for j in range(len(xt)))
                        + sum(w_hh[r][j] * h[j] for j in range(hid))
                        + b[r]
                        for r in range(4 * hid)
                    ]
                    i = [sig(pre[r]) for r in range(hid)]
                    f = [sig(pre[hid + r]) for r in range(hid)]
                    g = [math.tanh(pre[2 * hid + r]) for r in range(hid)]
                    o = [sig(pre[3 * hid + r]) for r in range(hid)]
                    c = [f[r] * c[r] + i[r] * g[r] for r in range(hid)]
                    h = [o[r] * math.tanh(c[r]) for r in range(hid)]
                    out.append(list(h))
                seq = out
            return seq

        def linear_scalar(vec, prefix, out_dim):
            w, b = m.state[f"{prefix}.weight"], m.state[f"{prefix}.bias"]
            return [
                sum(w[r][j] * vec[j] for j in range(len(vec))) + b[r]
                for r in range(out_dim)
            ]

        for n in range(x.shape[0]):
            enc = run_lstm_scalar([list(row) for row in x[n]], "encoder_lstm")
            embv = linear_scalar(enc[-1], "encoder_fc", emb)
            infl = linear_scalar(embv, "decoder_fc", hid)
            dec = run_lstm_scalar([list(infl)] * seq_len, "decoder_lstm")
            for t in range(seq_len):
                want = linear_scalar(dec[t], "output_fc", in_dim)
                for j in range(in_dim):
                    assert got[n, t, j] == pytest.approx(want[j], rel=1e-10, abs=1e-12)

    def test_checkpoint_roundtrip_and_spark_scoring(self, spark, sf_dir, tmp_path):
        """npz round-trip (torch state_dict key names) is bit-exact; the
        broadcast mapInPandas scoring slot reproduces the driver-side
        numpy scores on every sequence."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.artifacts import (
            load_lstm_ae,
            save_lstm_ae,
        )
        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            sequence_reconstruction_scores,
        )
        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            init_lstm_ae,
        )
        from amonaly_detection_in_time_series_data_spark.operators.sequences import (
            create_sequences,
        )

        model = init_lstm_ae(input_dim=1, hidden_dim=8, embedding_dim=4,
                             n_layers=2, seed=3)
        p = str(tmp_path / "lstm.npz")
        save_lstm_ae(model, p)
        back = load_lstm_ae(p)
        assert set(back.state) == set(model.state)
        for k in model.state:
            np.testing.assert_array_equal(back.state[k], model.state[k])

        ev = load_table(spark, sf_dir, "events")
        seqs = create_sequences(ev, ["value"], 6, ["user_id"], ["ts", "event_id"])
        scored = sequence_reconstruction_scores(seqs, "seq", model=back)
        got = {
            (r["user_id"], r["seq_start_ts"]): r["recon_error"]
            for r in scored.collect()
        }
        rows = seqs.collect()
        assert len(got) == len(rows) > 0
        x = np.stack(
            [np.array([list(step) for step in r["seq"]], dtype=np.float64)
             for r in rows]
        )
        want = model.reconstruction_errors(x)
        for r, w in zip(rows, want):
            assert got[(r["user_id"], r["seq_start_ts"])] == pytest.approx(
                w, rel=1e-9, abs=1e-12
            )

    def test_reference_dims_score_digest_pinned(self):
        """Determinism pin for the declared lstm_scores path: the
        reference-dim model (128 hidden / 64 embedding / 2 layers,
        config.py:27-29) on a fixed input batch reproduces the same
        rounded error digest on every run/platform."""
        import hashlib

        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            init_lstm_ae,
        )

        m = init_lstm_ae(input_dim=1, hidden_dim=128, embedding_dim=64,
                         n_layers=2, seed=42)
        x = np.sin(np.arange(5 * 12, dtype=np.float64)).reshape(5, 12, 1)
        errs = np.round(m.reconstruction_errors(x), 6)
        digest = hashlib.md5(",".join(f"{e:.6f}" for e in errs).encode()).hexdigest()
        assert digest == "8748182c4eb00bd75928e259540d9162"

    def test_bptt_gradients_match_central_differences(self):
        """ML2 gradient parity: the analytic BPTT gradients of every
        parameter of a tiny 2-layer model on a 2-step batch agree with
        central differences (the torch-convention forward is already
        pinned scalar-by-scalar above, so agreement here pins the
        backward to the same conventions)."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            init_lstm_ae,
            lstm_ae_loss_grads,
        )

        m = init_lstm_ae(input_dim=1, hidden_dim=3, embedding_dim=2,
                         n_layers=2, seed=1)
        rng = np.random.default_rng(0)
        x = rng.uniform(0, 1, (2, 2, 1))
        _, grads = lstm_ae_loss_grads(m, x)
        assert set(grads) == set(m.state)
        eps = 1e-6
        for k, arr in m.state.items():
            it = np.nditer(arr, flags=["multi_index"])
            for _ in it:
                idx = it.multi_index
                orig = arr[idx]
                arr[idx] = orig + eps
                lp, _ = lstm_ae_loss_grads(m, x)
                arr[idx] = orig - eps
                lm, _ = lstm_ae_loss_grads(m, x)
                arr[idx] = orig
                num = (lp - lm) / (2 * eps)
                ana = grads[k][idx]
                # absolute floor absorbs finite-difference truncation
                # noise on near-zero gradients (measured <= 4e-11)
                assert abs(num - ana) <= 1e-8 + 1e-4 * max(abs(num), abs(ana)), (
                    k, idx, num, ana
                )

    def test_training_decreases_loss_and_checkpoints_best(self, tmp_path):
        """ML2 closed for the LSTM tier: Adam + MSE + shuffled batches
        with drop_last, per-epoch loss, checkpoint-best + reload-best
        (reference main.py:20-56). Loss decreases monotonically on a
        sine fixture and the returned model is the best epoch's."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.artifacts import (
            lstm_best_checkpoint,
        )
        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            init_lstm_ae,
            train_lstm_ae,
        )

        rng = np.random.default_rng(5)
        phases = rng.uniform(0, 2 * np.pi, 48)
        x = np.stack(
            [0.5 + 0.4 * np.sin(np.arange(6) + p) for p in phases]
        ).reshape(48, 6, 1)
        m0 = init_lstm_ae(input_dim=1, hidden_dim=8, embedding_dim=4,
                          n_layers=2, seed=9)
        ckpt = lstm_best_checkpoint(str(tmp_path / "ck"))
        model, losses = train_lstm_ae(
            x, m0, n_epochs=5, lr=1e-2, batch_size=16, seed=0,
            checkpoint=ckpt,
        )
        assert len(losses) == 5
        assert all(b < a for a, b in zip(losses, losses[1:])), losses
        # returned model == the checkpointed best (strictly improving
        # run -> best is the last epoch's weights at its offer time)
        assert ckpt.best_loss == min(losses)
        best = ckpt.load_best()
        for k in model.state:
            np.testing.assert_array_equal(model.state[k], best.state[k])
        # and the trained model reconstructs the fixture better than init
        err0 = init_lstm_ae(input_dim=1, hidden_dim=8, embedding_dim=4,
                            n_layers=2, seed=9).reconstruction_errors(x).mean()
        assert model.reconstruction_errors(x).mean() < err0

    def test_declared_query_consumes_trained_checkpoint(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """SPARK_GRAFT_LSTM_CKPT routes trained weights into the
        declared lstm_scores query (same schema, different scores)."""
        import numpy as np

        import __spark_entry__ as entrymod
        from amonaly_detection_in_time_series_data_spark.operators.artifacts import (
            save_lstm_ae,
        )
        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            init_lstm_ae,
            train_lstm_ae,
        )

        rng = np.random.default_rng(2)
        x = rng.uniform(0, 1, (16, 12, 1))
        model, _ = train_lstm_ae(
            x,
            init_lstm_ae(input_dim=1, hidden_dim=8, embedding_dim=4,
                         n_layers=2, seed=4),
            n_epochs=1, batch_size=16, seed=0,
        )
        p = str(tmp_path / "trained.npz")
        save_lstm_ae(model, p)

        base = entrymod.q_lstm_scores(spark, sf_dir).collect()
        monkeypatch.setenv("SPARK_GRAFT_LSTM_CKPT", p)
        trained = entrymod.q_lstm_scores(spark, sf_dir).collect()
        assert len(trained) == len(base) > 0
        assert trained[0].asDict().keys() == base[0].asDict().keys()
        b = {(r["user_id"], r["seq_start_ts"]): r["recon_error"] for r in base}
        t = {(r["user_id"], r["seq_start_ts"]): r["recon_error"] for r in trained}
        assert set(b) == set(t)
        assert any(abs(b[k] - t[k]) > 1e-9 for k in b)  # weights actually used


class TestInputValidation:
    """Misuse of exported helpers must fail eagerly with clear messages
    (ADVICE r5), not as opaque SQL parse errors or silent aliasing."""

    def test_nested_double_literal_rejects_nonfinite_and_empty(self):
        from amonaly_detection_in_time_series_data_spark.functions.vectors import (
            nested_double_literal,
        )

        with pytest.raises(ValueError, match="non-finite"):
            nested_double_literal([1.0, float("inf")])
        with pytest.raises(ValueError, match="non-finite"):
            nested_double_literal([[float("nan")]])
        with pytest.raises(ValueError, match="empty"):
            nested_double_literal([])
        with pytest.raises(ValueError, match="empty"):
            nested_double_literal([[1.0], []])

    def test_lsh_buckets_multi_rejects_ragged_tables(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            lsh_buckets_multi,
        )

        with pytest.raises(ValueError, match="ragged"):
            lsh_buckets_multi(F.col("v"), [[[1.0, 0.0]], [[1.0, 0.0], [0.0, 1.0]]])

    def test_quality_rules_rejects_temp_column_collision(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.corpus import (
            quality_rules,
        )

        df = spark.createDataFrame(
            [("a", "hello world", 1)], "doc_id string, text string, __toks int"
        )
        with pytest.raises(ValueError, match="__toks"):
            quality_rules(df, "text")


class TestTextLRClassifier:
    """operators.classifier — hashed-BoW logistic regression whose
    Catalyst scorer must reproduce the MLlib model it was fitted as."""

    def _labeled(self, spark):
        rows = []
        # class 1: "good" vocab, class 0: repetitive junk
        for i in range(60):
            rows.append((i, "the quick brown fox jumps over lazy dog %d ok" % i, 1))
        for i in range(60, 100):
            rows.append((i, "buy buy buy spam spam spam %d" % i, 0))
        return spark.createDataFrame(rows, "doc_id long, text string, label int")

    def test_catalyst_scorer_matches_mllib_transform(self, spark):
        import numpy as np
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.functions import array_to_vector, vector_to_array
        from pyspark.sql import functions as F
        from amonaly_detection_in_time_series_data_spark.functions.text import tokenize
        from amonaly_detection_in_time_series_data_spark.operators.classifier import (
            fit_text_lr,
            hashed_bow_counts,
            score_text_lr,
        )

        df = self._labeled(spark)
        n_feat = 64
        m = fit_text_lr(df, "text", "label", n_features=n_feat, order_cols=["doc_id"])

        # refit the identical MLlib model and compare transform() probs
        feat = df.select(
            "doc_id",
            F.col("label").cast("double").alias("label"),
            array_to_vector(
                hashed_bow_counts(tokenize("text"), n_feat)
            ).alias("features"),
        )
        lr = LogisticRegression(maxIter=50, regParam=1e-4, standardization=False)
        mllib = lr.fit(feat).transform(feat).select(
            "doc_id", vector_to_array("probability").alias("p")
        )
        want = {r["doc_id"]: r["p"][1] for r in mllib.collect()}
        got = {
            r["doc_id"]: r["quality_prob"]
            for r in score_text_lr(df, m, "text").collect()
        }
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, k

    def test_separates_classes_and_is_deterministic(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.classifier import (
            fit_text_lr,
            score_text_lr,
        )

        df = self._labeled(spark)
        m = fit_text_lr(df, "text", "label", n_features=64, order_cols=["doc_id"])
        out = score_text_lr(df, m, "text").collect()
        acc = sum(int(r["quality_pred"] == r["label"]) for r in out) / len(out)
        assert acc >= 0.95
        # LBFGS treeAggregate order varies with partitioning -> float
        # non-associativity; the model must agree to optimizer tolerance
        # (bitwise stability only holds for a fixed plan/partitioning).
        m2 = fit_text_lr(
            df.repartition(5), "text", "label", n_features=64, order_cols=["doc_id"]
        )
        assert abs(m2.intercept - m.intercept) < 1e-3
        assert all(abs(a - b) < 1e-3 for a, b in zip(m2.coef, m.coef))

    def test_declared_query_digest(self, spark, sf_dir):
        import __spark_entry__ as e

        df = e.queries()["quality_classifier"](spark, sf_dir)
        rows = sorted(
            (r["doc_id"], r["keep"], r["quality_prob"], r["quality_pred"])
            for r in df.collect()
        )
        assert len(rows) == 500
        acc = sum(int(p == k) for _, k, _, p in rows) / len(rows)
        assert acc >= 0.8  # weak-label train accuracy floor
        # digest-pin the scores: fit is order_cols-deterministic
        import hashlib

        dig = hashlib.md5(str(rows).encode()).hexdigest()
        df2 = e.queries()["quality_classifier"](spark, sf_dir)
        rows2 = sorted(
            (r["doc_id"], r["keep"], r["quality_prob"], r["quality_pred"])
            for r in df2.collect()
        )
        assert hashlib.md5(str(rows2).encode()).hexdigest() == dig


class TestSemanticDedup:
    """operators.similarity.semantic_dedup — SemDeDup clustering dedup."""

    def _corpus(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        rows = []
        for c in range(4):
            center = rng.normal(size=8) * 1.5
            for i in range(20):
                rows.append(
                    (c * 100 + i, (center + rng.normal(scale=1.0, size=8)).tolist())
                )
        base = dict(rows)
        for c in range(4):
            for i in range(3):
                v = np.array(base[c * 100 + i])
                rows.append((c * 100 + 50 + i, (v * 1.0005).tolist()))
        return rows

    def test_drops_planted_dups_only(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.similarity import semantic_dedup

        rows = self._corpus(spark)
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_dedup(df, n_clusters=4, eps=0.99, keep="min_id")
        r = {x["vec_id"]: x["sem_keep"] for x in out.collect()}
        planted = {c * 100 + 50 + i for c in range(4) for i in range(3)}
        assert {k for k, kp in r.items() if kp == 0} == planted

    def test_no_surviving_intra_cluster_dup_pair(self, spark):
        import numpy as np
        from amonaly_detection_in_time_series_data_spark.operators.similarity import semantic_dedup

        rows = self._corpus(spark)
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        for keep in ("edge", "central", "min_id"):
            out = semantic_dedup(df, n_clusters=4, eps=0.99, keep=keep).collect()
            kept = [(x["__list"], np.array(x["embedding"]))
                    for x in out if x["sem_keep"] == 1]
            for i in range(len(kept)):
                for j in range(i + 1, len(kept)):
                    li, vi = kept[i]
                    lj, vj = kept[j]
                    if li != lj:
                        continue
                    cos = vi @ vj / (np.linalg.norm(vi) * np.linalg.norm(vj))
                    assert cos <= 0.99 + 1e-12, (keep, li, cos)

    def test_bad_keep_raises(self, spark):
        import pytest as _pytest
        from amonaly_detection_in_time_series_data_spark.operators.similarity import semantic_dedup

        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        with _pytest.raises(ValueError):
            semantic_dedup(df, keep="random")

    def test_declared_query_resolves_each_pair(self, spark, sf_dir):
        import __spark_entry__ as e

        out = e.queries()["semantic_dedup"](spark, sf_dir).collect()
        keep = {r["vec_id"]: r["sem_keep"] for r in out}
        assert len(keep) == 550  # 500 + 50 injected
        originals = [v for v in keep if v < 100000 and v % 10 == 0]
        assert len(originals) == 50
        for v in originals:
            assert keep[v] + keep[v + 100000] == 1, v  # exactly one survives
        # nothing else dropped: natural max cosine is 0.48 << eps
        others = [v for v in keep if v < 100000 and v % 10 != 0]
        assert all(keep[v] == 1 for v in others)


class TestConnectedComponents:
    """operators.graph — distributed min-label components vs a
    from-scratch union-find oracle."""

    @staticmethod
    def _uf_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        groups = {}
        for n in nodes:
            groups.setdefault(find(n), []).append(n)
        out = {}
        for members in groups.values():
            m = min(members)
            for n in members:
                out[n] = m
        return out

    def test_matches_union_find_on_random_graphs(self, spark):
        import random

        from amonaly_detection_in_time_series_data_spark.operators.graph import (
            connected_components,
        )

        rng = random.Random(17)
        for trial in range(3):
            n = 60
            nodes = list(range(n))
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(40)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            df = spark.createDataFrame(edges, "id_a long, id_b long")
            ndf = spark.createDataFrame([(x,) for x in nodes], "id long")
            got = {
                r["node"]: r["component"]
                for r in connected_components(
                    df, nodes=ndf, node_col="id"
                ).collect()
            }
            assert got == self._uf_components(edges, nodes), trial

    def test_long_chain_converges(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.graph import (
            connected_components,
        )

        # a 15-node path needs ~diameter rounds of plain propagation
        edges = [(i, i + 1) for i in range(15)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, max_iter=20).collect()
        }
        assert set(got.values()) == {0} and len(got) == 16

    def test_path_graph_converges_in_log_rounds(self, spark):
        """The r8 large-star/small-star rewrite's reason to exist: a
        128-node path has diameter 127 (min-label propagation = 127
        shuffle rounds) but star contraction reaches the fixpoint in
        O(log n) rounds — asserted, with a partition-invariance check."""
        from amonaly_detection_in_time_series_data_spark.operators.graph import (
            connected_components,
        )

        edges = [(i, i + 1) for i in range(127)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        out, rounds = connected_components(
            df, max_iter=25, return_rounds=True
        )
        got = {r["node"]: r["component"] for r in out.collect()}
        assert set(got.values()) == {0} and len(got) == 128
        assert rounds <= 10, rounds  # ~log2(128)=7 + slack, never 127
        # partition-invariant: a different input layout, same labels
        out2 = connected_components(df.repartition(13, "id_b"))
        got2 = {r["node"]: r["component"] for r in out2.collect()}
        assert got2 == got

    def test_non_convergence_raises(self, spark):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.operators.graph import (
            connected_components,
        )

        edges = [(i, i + 1) for i in range(300)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        with _pytest.raises(RuntimeError):
            connected_components(df, max_iter=1)

    def test_dedup_group_keep_flags_min_member(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.graph import (
            connected_components,
            dedup_group_keep,
        )

        df = spark.createDataFrame(
            [(5, 9), (9, 2), (7, 8)], "id_a long, id_b long"
        )
        out = {
            r["node"]: r["group_keep"]
            for r in dedup_group_keep(connected_components(df)).collect()
        }
        assert out == {2: 1, 5: 0, 9: 0, 7: 1, 8: 0}


class TestPageRank:
    """operators.graph.pagerank vs a numpy power-iteration reference
    with identical dangling-mass handling."""

    @staticmethod
    def _np_pagerank(n, edges, d=0.85, tol=1e-12):
        import numpy as np

        out_w: dict = {}
        for s, _, w in edges:
            out_w[s] = out_w.get(s, 0.0) + w
        M = np.zeros((n, n))
        for s, t, w in edges:
            M[t, s] += w / out_w[s]
        dangling = [i for i in range(n) if i not in out_w]
        r = np.ones(n) / n
        for _ in range(500):
            new = (1 - d) / n + d * (M @ r + r[dangling].sum() / n)
            if np.abs(new - r).sum() < tol:
                return new
            r = new
        return r

    def test_cycle_is_uniform_and_sums_to_one(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.graph import pagerank

        df = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0)], "src long, dst long"
        )
        got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        for v in got.values():
            assert v == pytest.approx(1 / 3, abs=1e-6)

    def test_matches_numpy_with_dangling_and_isolated(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.graph import pagerank

        # 0,1,2 -> 3 (a hub), 3 dangling, 4 isolated
        edges = [(0, 3), (1, 3), (2, 3), (0, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        ndf = spark.createDataFrame([(i,) for i in range(5)], "id long")
        got = {
            r["node"]: r["rank"]
            for r in pagerank(
                df, nodes=ndf, node_col="id", damping=0.5, tol=1e-10, max_iter=60
            ).collect()
        }
        want = self._np_pagerank(5, [(s, t, 1.0) for s, t in edges], d=0.5)
        assert set(got) == set(range(5))
        for i in range(5):
            assert got[i] == pytest.approx(float(want[i]), abs=1e-6), i
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-8)
        assert got[3] == max(got.values())  # the hub wins

    def test_weighted_edges_fold_and_flow_proportionally(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.graph import pagerank

        # parallel (0,1) edges fold to weight 3; 0 also points at 2 with 1
        rows = [(0, 1, 2.0), (0, 1, 1.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)]
        df = spark.createDataFrame(rows, "src long, dst long, w double")
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df, weight_col="w", damping=0.5, tol=1e-10, max_iter=60).collect()
        }
        want = self._np_pagerank(
            3, [(0, 1, 3.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)], d=0.5
        )
        for i in range(3):
            assert got[i] == pytest.approx(float(want[i]), abs=1e-6), i

    def test_duplicate_unweighted_edges_collapse(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.graph import pagerank

        df1 = spark.createDataFrame(
            [(0, 1), (0, 1), (0, 2), (1, 0), (2, 0)], "src long, dst long"
        )
        df2 = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 0), (2, 0)], "src long, dst long"
        )
        g1 = {r["node"]: r["rank"] for r in pagerank(df1, damping=0.5, tol=1e-9, max_iter=60).collect()}
        g2 = {r["node"]: r["rank"] for r in pagerank(df2, damping=0.5, tol=1e-9, max_iter=60).collect()}
        for i in range(3):
            assert g1[i] == pytest.approx(g2[i], abs=1e-7)

    def test_fixed_rounds_matches_numpy_exact_round_count(self, spark):
        # fixed_rounds=k runs EXACTLY k power rounds (no tol early-exit,
        # no convergence raise) — the oracle-replayable mode merged into
        # minhash_pairs_md5's kind='pagerank' slice.
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.graph import pagerank

        edges = [(0, 3), (1, 3), (2, 3), (0, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        ndf = spark.createDataFrame([(i,) for i in range(5)], "id long")
        d = 0.85
        out_w: dict = {}
        for s, _ in edges:
            out_w[s] = out_w.get(s, 0.0) + 1.0
        M = np.zeros((5, 5))
        for s, t in edges:
            M[t, s] += 1.0 / out_w[s]
        dangling = [i for i in range(5) if i not in out_w]
        r = np.ones(5) / 5
        for k in (1, 3):
            want = r.copy()
            for _ in range(k):
                want_next = (1 - d) / 5 + d * (
                    M @ want + want[dangling].sum() / 5
                )
                want = want_next
            got = {
                row["node"]: row["rank"]
                for row in pagerank(
                    df, nodes=ndf, node_col="id", damping=d, fixed_rounds=k
                ).collect()
            }
            for i in range(5):
                assert got[i] == pytest.approx(float(want[i]), abs=1e-12), (k, i)

    def test_bad_damping_raises(self, spark):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.operators.graph import pagerank

        df = spark.createDataFrame([(0, 1)], "src long, dst long")
        with _pytest.raises(ValueError, match="damping"):
            pagerank(df, damping=1.0)


class TestProductQuantization:
    """operators.pq — PQ codebooks, Catalyst encode, ADC search."""

    def _emb(self, spark):
        import os

        sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
        return load_table(spark, sf, "embeddings")

    def test_encode_matches_numpy(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.pq import (
            pq_encode,
            pq_train,
        )

        emb = self._emb(spark)
        books = pq_train(emb, "embedding", m=8, k=16, order_cols=["vec_id"])
        got = {
            r["vec_id"]: list(r["pq_code"])
            for r in pq_encode(
                emb.select("vec_id", "embedding"), books, "embedding"
            ).collect()
        }
        cb = np.array(books)  # [m][k][dsub]
        rows = emb.select("vec_id", "embedding").collect()
        for r in rows:
            v = np.array(r["embedding"], dtype=np.float64)
            v = v / np.linalg.norm(v)
            want = []
            for j in range(8):
                sub = v[j * 8 : (j + 1) * 8]
                d2 = ((cb[j] - sub) ** 2).sum(axis=1)
                want.append(int(d2.argmin()))
            assert got[r["vec_id"]] == want, r["vec_id"]

    def test_recall_floors_adc_and_rerank(self, spark):
        import os

        from amonaly_detection_in_time_series_data_spark.operators.pq import (
            pq_encode,
            pq_topk,
            pq_train,
        )
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            cosine_topk,
        )

        oracle_sf = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"
        )
        if not os.path.isdir(oracle_sf):
            pytest.skip(f"oracle dataset {oracle_sf} not present")
        emb = load_table(spark, oracle_sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        truth = {}
        for r in cosine_topk(emb, q, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

        books = pq_train(emb, "embedding", m=16, k=64, order_cols=["vec_id"])
        codes = pq_encode(
            emb.select("vec_id", "embedding"), books, "embedding"
        ).select("vec_id", "pq_code")

        def recall(rows):
            approx = {}
            for r in rows:
                approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return sum(
                len(approx.get(qid, set()) & t) / len(t)
                for qid, t in truth.items()
            ) / len(truth)

        adc = recall(pq_topk(codes, q, books, k=5).collect())
        assert adc >= 0.4, f"ADC-only recall@5 {adc:.3f}"  # measured 0.56
        rr = recall(
            pq_topk(
                codes, q, books, k=5, rerank_with=emb, shortlist=50
            ).collect()
        )
        assert rr >= 0.9, f"reranked recall@5 {rr:.3f}"  # measured 0.99

    def test_ivf_pq_composed_recall_and_partition_prune(self, spark, tmp_path):
        """The fully-composed FAISS shape (coarse IVF probe -> ADC over
        probed lists' codes -> exact re-rank) through a persisted,
        __list-partitioned code sink: recall@5 floor holds AND
        static_prune pushes the probed lists into the parquet scan as a
        PartitionFilter (unprobed lists never read)."""
        import os
        import re

        from amonaly_detection_in_time_series_data_spark.operators.pq import (
            ivf_pq_topk,
            pq_encode,
            pq_train,
        )
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            cosine_topk,
            ivf_build_index,
        )

        oracle_sf = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"
        )
        if not os.path.isdir(oracle_sf):
            pytest.skip(f"oracle dataset {oracle_sf} not present")
        emb = load_table(spark, oracle_sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        truth = {}
        for r in cosine_topk(emb, q, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

        books = pq_train(emb, "embedding", m=16, k=64, order_cols=["vec_id"])
        inv, cents = ivf_build_index(emb, n_clusters=16, seed=42)
        inv_codes = pq_encode(inv, books, "embedding").select(
            "vec_id", "__list", "pq_code"
        )
        inv_codes.write.partitionBy("__list").parquet(str(tmp_path / "codes"))
        codes2 = spark.read.parquet(str(tmp_path / "codes"))

        out = ivf_pq_topk(
            codes2, cents, q, books, k=5, n_probe=4,
            rerank_with=emb, shortlist=50, static_prune=True,
        )
        rows = out.collect()
        approx = {}
        for r in rows:
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rec = sum(
            len(approx.get(qid, set()) & t) / len(t)
            for qid, t in truth.items()
        ) / len(truth)
        assert rec >= 0.6, f"composed IVF-PQ recall@5 {rec:.3f}"

        plan = out._jdf.queryExecution().executedPlan().toString()
        # several scans participate (codes, centroids, rerank vectors);
        # the CODE scan is the one that must carry the __list filter
        filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert any("__list" in f for f in filters), (
            f"no __list PartitionFilter in any scan:\n{plan[:3000]}"
        )

    def test_train_is_deterministic_and_validates(self, spark):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.operators.pq import pq_train

        emb = self._emb(spark)
        a = pq_train(emb, "embedding", m=8, k=4, n_iter=5, order_cols=["vec_id"])
        b = pq_train(emb, "embedding", m=8, k=4, n_iter=5, order_cols=["vec_id"])
        assert a == b
        with _pytest.raises(ValueError):
            pq_train(emb, "embedding", m=7)  # 64 % 7 != 0


class TestSketchAggs:
    def test_error_envelopes(self, spark):
        """The sketch tier's contract is its error bound, not a value:
        HLL++ at rsd=0.02 must land within 3 rsd of exact distinct;
        t-digest quantiles at accuracy 10000 within 1% relative."""
        import os

        import __spark_entry__ as e

        oracle_sf = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"
        )
        if not os.path.isdir(oracle_sf):
            pytest.skip(f"oracle dataset {oracle_sf} not present")
        rows = e.queries()["sketch_aggs"](spark, oracle_sf).collect()
        assert len(rows) == 4
        for r in rows:
            assert abs(r["hll_users"] - r["exact_users"]) <= max(
                3 * 0.02 * r["exact_users"], 1
            ), r
            for p in ("p50", "p95"):
                exact, approx = r[f"exact_{p}"], r[f"tdigest_{p}"]
                assert abs(approx - exact) <= 0.01 * abs(exact) + 1e-9, (p, r)


class TestBucketedJoin:
    def test_bucketed_tables_join_with_zero_exchange(self, spark, sf_dir, tmp_path):
        """The recurring-fact-join contract at 100 TB: bucket both fact
        tables by the join key at WRITE time, and every later join on
        that key runs with no Exchange on either side — the shuffle was
        paid once, at layout time. Asserted on the physical plan."""
        from amonaly_detection_in_time_series_data_spark.sources.writers import (
            write_bucketed_table,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        write_bucketed_table(
            orders, "t_orders_b", ["o_orderkey"], 8,
            sort_cols=["o_orderkey"], path=str(tmp_path / "ob"),
        )
        write_bucketed_table(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "t_lineitem_b", ["o_orderkey"], 8,
            sort_cols=["o_orderkey"], path=str(tmp_path / "lb"),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = spark.table("t_orders_b")
            b = spark.table("t_lineitem_b")
            # join + aggregate BOTH on the bucket key: the whole query
            # must run with zero Exchange (layout paid the shuffle once)
            joined = a.join(b, "o_orderkey").groupBy("o_orderkey").agg(
                F.sum("l_extendedprice").alias("rev")
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert plan.count("Bucketed: true") == 2, plan
            # correctness unchanged vs the plain-parquet join
            want = (
                orders.join(li, orders.o_orderkey == li.l_orderkey)
                .groupBy("o_orderkey")
                .agg(F.sum("l_extendedprice").alias("rev"))
            )
            got = {r["o_orderkey"]: round(r["rev"], 4) for r in joined.collect()}
            exp = {r["o_orderkey"]: round(r["rev"], 4) for r in want.collect()}
            assert got == exp
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS t_orders_b")
            spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


class TestIvfPqComposition:
    def test_full_faiss_layout_prunes_and_recalls(self, spark):
        """The composed FAISS IVF-PQ layout (operators.pq.ivf_pq_topk):
        per query, coarse KMeans lists prune the corpus, PQ codes
        ADC-score only the probed lists, exact cosine re-ranks the
        shortlist. Pins: per-query candidate fraction = n_probe/n_lists,
        recall@5 >= IVF-exact-at-same-probe minus PQ noise."""
        import os

        from amonaly_detection_in_time_series_data_spark.operators.pq import (
            ivf_pq_topk,
            pq_encode,
            pq_train,
        )
        from amonaly_detection_in_time_series_data_spark.operators.similarity import (
            cosine_topk,
            ivf_build_index,
        )

        oracle_sf = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"
        )
        if not os.path.isdir(oracle_sf):
            pytest.skip(f"oracle dataset {oracle_sf} not present")
        emb = load_table(spark, oracle_sf, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)

        inv, cent = ivf_build_index(emb, n_clusters=16, seed=42)
        books = pq_train(emb, "embedding", m=16, k=64, order_cols=["vec_id"])
        codes = pq_encode(inv, books, "embedding").select(
            "vec_id", "__list", "pq_code"
        )

        res = ivf_pq_topk(
            codes, cent, q, books, k=5, n_probe=8,
            rerank_with=emb, shortlist=50,
        )
        truth = {}
        for r in cosine_topk(emb, q, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        approx = {}
        for r in res.collect():
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rec = sum(
            len(approx.get(qid, set()) & t) / len(t) for qid, t in truth.items()
        ) / len(truth)
        # probe 8/16 lists -> candidate set is ~half the corpus per
        # query; rerank recovers near the IVF-exact ceiling
        assert rec >= 0.7, f"IVF-PQ recall@5 {rec:.3f}"


class TestSeasonalDecompose:
    def _series(self, spark):
        import datetime

        rows = []
        t0 = datetime.datetime(2024, 1, 1)
        hour_effect = [((h * 7) % 24) - 11.5 for h in range(24)]  # fixed seasonal
        for i in range(24 * 14):  # two weeks hourly
            ts = t0 + datetime.timedelta(hours=i)
            v = 100.0 + hour_effect[ts.hour]
            if i == 200:
                v += 60.0  # planted spike
            rows.append(("u1", ts, v))
        return spark.createDataFrame(rows, "user_id string, ts timestamp, value double")

    def test_finds_planted_spike_and_learns_seasonality(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            seasonal_decompose,
        )

        df = self._series(spark)
        out = seasonal_decompose(df, "ts", "value", ["user_id"]).collect()
        flagged = [r for r in out if r["is_anomaly"] == 1]
        # the spike hour must be flagged; a plain-seasonal series yields
        # near-zero residuals everywhere else (spike bleeds into its
        # trend neighborhood, so allow a small flagged set)
        assert any(r["value"] > 150.0 for r in flagged)  # the spiked hour
        assert len(flagged) <= 5, [r["value"] for r in flagged]
        # seasonal estimate reproduces the planted hour effect shape:
        # residuals away from the spike neighborhood are tiny
        calm = [
            abs(r["residual"])
            for i, r in enumerate(sorted(out, key=lambda r: r["ts"]))
            if not (180 <= i <= 220)
        ]
        # the spike biases its own hour's seasonal mean by ~60/14 ≈ 4.3
        # (classical decomposition is not robust to outliers); everything
        # else stays well under the spike magnitude
        assert max(calm) < 5.0

    def test_integer_mode_matches_float_mode_closely(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            seasonal_decompose,
        )

        df = self._series(spark)
        raw = {
            (r["user_id"], r["ts"]): r
            for r in seasonal_decompose(df, "ts", "value", ["user_id"]).collect()
        }
        snapped = {
            (r["user_id"], r["ts"]): r
            for r in seasonal_decompose(
                df, "ts", "value", ["user_id"], round_digits=6
            ).collect()
        }
        assert raw.keys() == snapped.keys()
        for k in raw:
            for c in ("trend", "seasonal", "residual"):
                assert abs(raw[k][c] - snapped[k][c]) < 2e-6, (k, c)
            assert raw[k]["is_anomaly"] == snapped[k]["is_anomaly"], k


class TestSqlRegistry:
    def test_sql_functions_match_column_helpers(self, spark):
        """The SQL macro surface must be expression-identical to the
        DataFrame helpers — same tokens, counts, redaction, cleaning."""
        from amonaly_detection_in_time_series_data_spark.functions.cleaning import (
            clean_numeric_de,
        )
        from amonaly_detection_in_time_series_data_spark.functions.sql_registry import (
            register_sql_functions,
        )
        from amonaly_detection_in_time_series_data_spark.functions.text import (
            punct_ratio,
            redact_pii,
            token_count_regex,
            tokenize,
        )

        names = register_sql_functions(spark)
        assert "eng_tokenize" in names
        rows = [
            ("  Hello   World ",),
            ("mail a@b.io or http://x.y 10.0.0.1 +1 555-867-5309",),
            ("1.234,5",),
            ("",),
            (None,),
        ]
        df = spark.createDataFrame(rows, "x string")
        df.createOrReplaceTempView("sqlreg_t")
        got = spark.sql(
            """SELECT eng_tokenize(x) AS toks, eng_token_count(x) AS tc,
                      round(eng_punct_ratio(x), 6) AS pr,
                      eng_redact_pii(x) AS red,
                      eng_clean_numeric(x) AS num,
                      eng_minmax(5.0D, 0.0D, 10.0D) AS mm
               FROM sqlreg_t"""
        ).collect()
        want = df.select(
            tokenize("x").alias("toks"),
            token_count_regex("x").cast("int").alias("tc"),
            F.round(punct_ratio("x"), 6).alias("pr"),
            redact_pii("x").alias("red"),
            clean_numeric_de("x").alias("num"),
            F.lit(0.5).alias("mm"),
        ).collect()
        for g, w in zip(got, want):
            assert tuple(g) == tuple(w), (g, w)

    def test_sql_functions_stay_codegen(self, spark):
        from amonaly_detection_in_time_series_data_spark.functions.sql_registry import (
            register_sql_functions,
        )

        register_sql_functions(spark)
        df = spark.range(5).selectExpr("CAST(id AS STRING) AS x")
        df.createOrReplaceTempView("sqlreg_t2")
        plan = (
            spark.sql("SELECT eng_redact_pii(x) FROM sqlreg_t2")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # macro inlined: no python eval, no exchange
        assert "BatchEvalPython" not in plan and "Exchange" not in plan


class TestPointInIntervalJoin:
    def _fixtures(self, spark):
        import datetime as dt

        T = dt.datetime
        pts = spark.createDataFrame(
            [
                (1, "u1", T(2024, 1, 1, 5)),
                (2, "u1", T(2024, 1, 3, 0)),
                (3, "u1", T(2024, 1, 8, 12)),
                (4, "u2", T(2024, 1, 1, 5)),
            ],
            "pid long, user string, ts timestamp",
        )
        iv = spark.createDataFrame(
            [
                ("u1", T(2024, 1, 1, 0), T(2024, 1, 2, 0), "w1"),
                ("u1", T(2024, 1, 2, 12), T(2024, 1, 4, 0), "w2"),
                ("u1", T(2024, 1, 1, 0), T(2024, 1, 9, 0), "w3"),
                ("u2", T(2024, 2, 1, 0), T(2024, 2, 2, 0), "w4"),
            ],
            "user string, start timestamp, end timestamp, wname string",
        )
        return pts, iv

    def test_containment_and_left_semantics(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            point_in_interval_join,
        )

        pts, iv = self._fixtures(spark)
        inner = point_in_interval_join(
            pts, iv, ["user"], "ts", "start", "end", bucket_seconds=86_400
        )
        got = sorted((r["pid"], r["wname"]) for r in inner.collect())
        assert got == [(1, "w1"), (1, "w3"), (2, "w2"), (2, "w3"), (3, "w3")]
        left = point_in_interval_join(
            pts, iv, ["user"], "ts", "start", "end", how="left"
        )
        lg = sorted((r["pid"], r["wname"]) for r in left.collect())
        assert (4, None) in lg and len(lg) == 6

    def test_boundaries_and_bucket_invariance(self, spark):
        import datetime as dt

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            point_in_interval_join,
        )

        T = dt.datetime
        pts, iv = self._fixtures(spark)
        # start inclusive, end exclusive
        edge = spark.createDataFrame(
            [(9, "u1", T(2024, 1, 2, 0)), (10, "u1", T(2024, 1, 1, 0))],
            "pid long, user string, ts timestamp",
        )
        g = sorted(
            (r["pid"], r["wname"])
            for r in point_in_interval_join(
                edge, iv.filter("wname='w1'"), ["user"], "ts", "start", "end"
            ).collect()
        )
        assert g == [(10, "w1")]
        # results identical across bucket widths (1h / 1d / 1w)
        base = None
        for bs in (3_600, 86_400, 7 * 86_400):
            got = sorted(
                (r["pid"], r["wname"])
                for r in point_in_interval_join(
                    pts, iv, ["user"], "ts", "start", "end", bucket_seconds=bs
                ).collect()
            )
            base = base or got
            assert got == base, bs

    def test_plan_is_equi_join_not_nested_loop(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            point_in_interval_join,
        )

        pts, iv = self._fixtures(spark)
        plan = (
            point_in_interval_join(pts, iv, ["user"], "ts", "start", "end")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestHeavyHitters:
    def test_exact_two_pass_matches_truth(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.relational import (
            heavy_hitters,
        )

        # 1000 rows: 'a' 400, 'b' 150, 'c' 30, tail of 420 singletons
        rows = (
            [("a",)] * 400 + [("b",)] * 150 + [("c",)] * 30
            + [(f"t{i}",) for i in range(420)]
        )
        df = spark.createDataFrame(rows, "v string").repartition(8)
        got = {
            (r["v"], r["cnt"]) for r in heavy_hitters(df, "v", 0.1).collect()
        }
        assert got == {("a", 400), ("b", 150)}  # c at 3% < 10% support

        # superset-only mode contains every true heavy hitter
        cands = {
            r["v"] for r in heavy_hitters(df, "v", 0.1, exact=False).collect()
        }
        assert {"a", "b"} <= cands

    def test_empty_and_bad_support(self, spark):
        import pytest as _pytest
        from amonaly_detection_in_time_series_data_spark.operators.relational import (
            heavy_hitters,
        )

        empty = spark.createDataFrame([], "v string")
        assert heavy_hitters(empty, "v", 0.5).count() == 0
        with _pytest.raises(ValueError, match="support"):
            heavy_hitters(empty, "v", 1.5)
        # Spark's freqItems enforces support >= 1e-4; surfaced locally
        with _pytest.raises(ValueError, match="support"):
            heavy_hitters(empty, "v", 1e-5)

    def test_null_heavy_hitter_and_broadcast_fallback(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.relational import (
            heavy_hitters,
        )

        # NULL owns 30% of rows: freqItems surfaces it and the exact
        # pass must keep it (Column.isin never matches NULL)
        rows = (
            [(None,)] * 300 + [("a",)] * 400 + [(f"t{i}",) for i in range(300)]
        )
        df = spark.createDataFrame(rows, "v string").repartition(8)
        got = {
            (r["v"], r["cnt"]) for r in heavy_hitters(df, "v", 0.1).collect()
        }
        assert got == {("a", 400), (None, 300)}

        # large-candidate-set regime: forced broadcast-join fallback
        # gives identical answers and plans a broadcast hash join, not
        # a compiled IN-list
        hh = heavy_hitters(df, "v", 0.1, broadcast_threshold=1)
        got_b = {(r["v"], r["cnt"]) for r in hh.collect()}
        assert got_b == got
        plan = hh._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan


class TestTrendOlsFlags:
    """Closed-form per-series OLS detrending (operators.anomaly.
    trend_ols_flags) vs numpy lstsq, plus the planted-outlier and
    degenerate-series contracts."""

    def _df(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        rows = []
        for key, (a, b) in {"s1": (10.0, 0.5), "s2": (-3.0, -1.25)}.items():
            for i in range(40):
                v = a + b * i + float(rng.randn()) * 0.3
                if key == "s1" and i == 25:
                    v += 50.0  # planted departure from trend
                rows.append((key, i, v))
        return spark.createDataFrame(rows, "sid string, t int, v double")

    def test_fit_matches_numpy(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            trend_ols_flags,
        )

        df = self._df(spark)
        out = trend_ols_flags(df, "v", ["sid"], order_cols=["t"]).collect()
        pdf = df.toPandas()
        for key in ("s1", "s2"):
            x = pdf[pdf.sid == key].sort_values("t").t.values.astype(float)
            y = pdf[pdf.sid == key].sort_values("t").v.values
            b, a = np.polyfit(x, y, 1)
            resid = y - (a + b * x)
            s = float(np.sqrt((resid**2).sum() / (len(x) - 2)))
            got = [r for r in out if r.sid == key][0]
            assert got.trend_slope == pytest.approx(round(b, 6), abs=1e-5)
            assert got.trend_intercept == pytest.approx(round(a, 6), abs=1e-4)
            # spot-check one residual z
            r7 = [r for r in out if r.sid == key and r.t == 7][0]
            want_z = resid[7] / s
            assert r7.trend_z == pytest.approx(want_z, abs=1e-4)

    def test_planted_outlier_flagged_only(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            trend_ols_flags,
        )

        out = trend_ols_flags(
            self._df(spark), "v", ["sid"], order_cols=["t"], threshold=3.0
        ).collect()
        alarms = {(r.sid, r.t) for r in out if r.trend_alarm == 1}
        assert ("s1", 25) in alarms
        # the clean series raises nothing
        assert not any(sid == "s2" for sid, _ in alarms)

    def test_x_col_mode_equals_index_mode_on_regular_grid(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            trend_ols_flags,
        )

        df = self._df(spark).withColumn("xreg", F.col("t").cast("double"))
        a = trend_ols_flags(df, "v", ["sid"], order_cols=["t"])
        b = trend_ols_flags(df, "v", ["sid"], x_col="xreg")
        ka = {(r.sid, r.t): (r.trend_z, r.trend_alarm) for r in a.collect()}
        kb = {(r.sid, r.t): (r.trend_z, r.trend_alarm) for r in b.collect()}
        assert ka == kb

    def test_degenerate_series_yield_nulls(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            trend_ols_flags,
        )

        rows = [("tiny", 0, 1.0), ("tiny", 1, 2.0)]  # n < 3
        rows += [("flatx", 0, 1.0), ("flatx", 0, 2.0), ("flatx", 0, 3.0)]
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        out = trend_ols_flags(df, "v", ["sid"], x_col="t").collect()
        assert all(
            r.trend_slope is None and r.trend_z is None and r.trend_alarm is None
            for r in out
        )

    def test_x_col_mode_is_window_free(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            trend_ols_flags,
        )

        df = self._df(spark)
        plan = (
            trend_ols_flags(df, "v", ["sid"], x_col="t")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan, plan

    def test_unit_mode_matches_float_on_grid_data(self, spark):
        """unit_digits (r8, cross-engine hash-exact BIGINT sums): on
        grid-valued data the integer-unit fit equals the float fit to
        float tolerance; NULL contracts carry over."""
        df = self._df(spark).withColumn("v", F.round("v", 2))
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            trend_ols_flags,
        )

        f = {
            (r.sid, r.t): (r.trend_slope, r.trend_z, r.trend_alarm)
            for r in trend_ols_flags(
                df, "v", ["sid"], order_cols=["t"]
            ).collect()
        }
        i = {
            (r.sid, r.t): (r.trend_slope, r.trend_z, r.trend_alarm)
            for r in trend_ols_flags(
                df, "v", ["sid"], order_cols=["t"], unit_digits=2
            ).collect()
        }
        assert set(f) == set(i)
        for k in f:
            assert i[k][0] == pytest.approx(f[k][0], abs=1e-5)
            assert i[k][1] == pytest.approx(f[k][1], abs=1e-4)
            assert i[k][2] == f[k][2]
        # degenerate series stay NULL in unit mode too
        rows = [("tiny", 0, 1.0), ("tiny", 1, 2.0)]
        dg = spark.createDataFrame(rows, "sid string, t int, v double")
        out = trend_ols_flags(
            dg, "v", ["sid"], order_cols=["t"], unit_digits=2
        ).collect()
        assert all(r.trend_slope is None and r.trend_alarm is None for r in out)


class TestXcorrLags:
    """Lead-lag cross-correlation (operators.timeseries.xcorr_lags) vs
    numpy on a planted-delay fixture."""

    def _df(self, spark, delay=3, n=120):
        import numpy as np

        rng = np.random.RandomState(3)
        base = rng.randn(n + delay)
        rows = []
        for i in range(n):
            # b_t = base[t+delay], a_t = base[t] + noise, so
            # a_t ~= b_{t-delay}: xcorr(a, b) peaks at lag=delay
            rows.append(
                ("s", i, float(base[i + delay]), float(base[i] + 0.05 * rng.randn()))
            )
        return spark.createDataFrame(rows, "sid string, t int, b double, a double")

    def test_matches_numpy_and_peak_at_planted_delay(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            xcorr_lags,
        )

        df = self._df(spark)
        out = {
            r.lag: (r.xcorr, r.n_pairs)
            for r in xcorr_lags(df, "a", "b", ["sid"], ["t"], max_lag=6).collect()
        }
        pdf = df.toPandas().sort_values("t")
        a, b = pdf.a.values, pdf.b.values
        for k in range(7):
            aa, bb = a[k:], b[: len(b) - k] if k else b
            want = float(np.corrcoef(aa, bb)[0, 1])
            got, n = out[k]
            assert n == len(aa)
            assert got == pytest.approx(want, abs=1e-6)
        peak = max(out, key=lambda k: out[k][0])
        assert peak == 3

    def test_constant_slice_and_short_overlap_null(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            xcorr_lags,
        )

        rows = [("s", i, 1.0, float(i)) for i in range(5)]
        df = spark.createDataFrame(rows, "sid string, t int, b double, a double")
        out = {r.lag: r.xcorr for r in xcorr_lags(df, "a", "b", ["sid"], ["t"], max_lag=4).collect()}
        assert all(v is None for v in out.values())  # b constant -> corr undefined
        # overlap < 3 at lag 3 on a 4-row series
        rows2 = [("s", i, float(i * i % 7), float(i)) for i in range(4)]
        df2 = spark.createDataFrame(rows2, "sid string, t int, b double, a double")
        out2 = {r.lag: r.xcorr for r in xcorr_lags(df2, "a", "b", ["sid"], ["t"], max_lag=3).collect()}
        assert out2[3] is None

    def test_single_window_exchange(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            xcorr_lags,
        )

        plan = (
            xcorr_lags(self._df(spark), "a", "b", ["sid"], ["t"], max_lag=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") <= 2, plan
        assert plan.count("Window") == 1, plan

    def test_unit_mode_matches_float_on_grid_data(self, spark):
        """unit_digits (r8, the cross-engine hash-exact path): corr is
        scale-invariant, so on data already ON the grid the integer-sum
        estimator equals the float estimator to float tolerance."""
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            xcorr_lags,
        )

        import numpy as np

        rng = np.random.RandomState(11)
        rows = [
            ("s", i, round(float(rng.uniform(0, 50)), 2),
             round(float(rng.uniform(0, 50)), 2))
            for i in range(150)
        ]
        df = spark.createDataFrame(rows, "sid string, t int, b double, a double")
        f = {
            r.lag: r.xcorr
            for r in xcorr_lags(df, "a", "b", ["sid"], ["t"], max_lag=5).collect()
        }
        i = {
            r.lag: r.xcorr
            for r in xcorr_lags(
                df, "a", "b", ["sid"], ["t"], max_lag=5, unit_digits=2
            ).collect()
        }
        for k in range(6):
            assert i[k] == pytest.approx(f[k], abs=2e-6)


class TestAcfDominantPeriod:
    """Autocorrelation + seasonality detection
    (operators.timeseries.acf_lags / dominant_period) vs numpy on a
    planted-period fixture."""

    def _df(self, spark, period=12, n=144, noise=0.1, seed=7):
        import math

        import numpy as np

        rng = np.random.RandomState(seed)
        rows = [
            (
                "s",
                i,
                float(
                    math.sin(2 * math.pi * i / period) + noise * rng.randn()
                ),
            )
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "sid string, t int, v double")

    def test_acf_matches_numpy_and_lag0_is_one(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import acf_lags

        df = self._df(spark)
        out = {
            r.lag: r.acf
            for r in acf_lags(df, "v", ["sid"], ["t"], max_lag=15).collect()
        }
        v = np.array(sorted(df.collect(), key=lambda r: r.t), dtype=object)
        x = np.array([float(r[2]) for r in v])
        assert out[0] == pytest.approx(1.0, abs=1e-9)
        for k in range(1, 16):
            want = float(np.corrcoef(x[k:], x[:-k])[0, 1])
            assert out[k] == pytest.approx(want, abs=1e-6), k

    def test_dominant_period_recovers_planted_seasonality(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            acf_lags,
            dominant_period,
        )

        acf = acf_lags(self._df(spark, period=12), "v", ["sid"], ["t"], max_lag=30)
        row = dominant_period(acf, ["sid"]).collect()[0]
        assert row.period == 12
        assert row.peak_acf > 0.8
        assert row.significant is True

    def test_white_noise_not_significant(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            acf_lags,
            dominant_period,
        )

        rng = np.random.RandomState(11)
        rows = [("w", i, float(rng.randn())) for i in range(400)]
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        acf = acf_lags(df, "v", ["sid"], ["t"], max_lag=24)
        row = dominant_period(acf, ["sid"]).collect()[0]
        # Some lag always wins argmax; on white noise it must sit inside
        # (or graze) Bartlett's 2/sqrt(n) band rather than scream seasonality.
        assert abs(row.peak_acf) < 4.0 / (400 ** 0.5)

    def test_constant_series_null_period(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            acf_lags,
            dominant_period,
        )

        df = spark.createDataFrame(
            [("c", i, 5.0) for i in range(50)], "sid string, t int, v double"
        )
        row = dominant_period(
            acf_lags(df, "v", ["sid"], ["t"], max_lag=10), ["sid"]
        ).collect()[0]
        assert row.period is None and row.peak_acf is None

    def test_single_window_exchange(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            acf_lags,
            dominant_period,
        )

        plan = (
            dominant_period(
                acf_lags(self._df(spark), "v", ["sid"], ["t"], max_lag=24), ["sid"]
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # one ordered window over the raw rows (all lags share it) plus
        # the partition-only max over the tiny per-lag table — nothing more
        assert plan.count("Window") <= 2, plan

    def test_validation(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            xcorr_lags,
        )

        with pytest.raises(ValueError):
            xcorr_lags(self._df(spark), "a", "b", ["sid"], ["t"], max_lag=-1)


class TestHoltWinters:
    """operators.timeseries.holt_winters — hand-computed recursion pin,
    perfect-series convergence, and the beats-naive backtest contract."""

    def test_hand_computed_recursion_m2(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import holt_winters

        rows = [("s", i, float(i + 1)) for i in range(6)]  # y = 1..6
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        out = holt_winters(
            df, "t", "v", ["sid"], season_rows=2,
            alpha=0.5, beta=0.5, gamma=0.5, horizon=2,
        ).collect()
        insample = {r["t"]: r["hw_forecast"] for r in out if not r["is_future"]}
        # init region (t=0,1) has no forecast
        assert insample[0] is None and insample[1] is None
        # hand-run of the FPP additive recursions with a=b=g=0.5:
        # init level=1.5, trend=1.0, seas=[-0.5, 0.5]
        assert insample[2] == pytest.approx(2.0, abs=1e-12)
        assert insample[3] == pytest.approx(4.75, abs=1e-12)
        assert insample[4] == pytest.approx(4.8125, abs=1e-12)
        assert insample[5] == pytest.approx(6.359375, abs=1e-12)
        fut = sorted(
            (r["t"], r["hw_forecast"]) for r in out if r["is_future"]
        )
        assert fut[0] == (6, pytest.approx(6.92578125, abs=1e-12))
        assert fut[1] == (7, pytest.approx(8.083984375, abs=1e-12))
        # future rows carry null value and null backtest columns
        f = [r for r in out if r["is_future"]][0]
        assert f["v"] is None and f["abs_err"] is None and f["hw_mae"] is None

    def test_damped_recursion_matches_hand_loop_and_phi1_is_classic(
        self, spark
    ):
        """r8 phi-damping (Gardner & McKenzie): the damped recursion is
        pinned against an independent pure-python loop, and phi=1
        reproduces the classic output bit-for-bit."""
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import holt_winters

        rows = [("s", i, float((i + 1) * (i % 3 + 1))) for i in range(10)]
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        a, b_, g, ph, m, h = 0.4, 0.3, 0.2, 0.8, 2, 3
        out = holt_winters(
            df, "t", "v", ["sid"], season_rows=m,
            alpha=a, beta=b_, gamma=g, horizon=h, phi=ph,
        ).collect()
        # independent hand loop (FPP §8.6 damped-additive recursions)
        y = [float((i + 1) * (i % 3 + 1)) for i in range(10)]
        level = sum(y[:m]) / m
        trend = (sum(y[m : 2 * m]) / m - sum(y[:m]) / m) / m
        seas = [y[i] - level for i in range(m)]
        want = {}
        for t in range(m, len(y)):
            want[t] = level + ph * trend + seas[t % m]
            prev = level
            level = a * (y[t] - seas[t % m]) + (1 - a) * (level + ph * trend)
            trend = b_ * (level - prev) + (1 - b_) * ph * trend
            seas[t % m] = g * (y[t] - prev - trend) + (1 - g) * seas[t % m]
        got = {r["t"]: r["hw_forecast"] for r in out if not r["is_future"]}
        for t in range(m, len(y)):
            assert got[t] == pytest.approx(want[t], abs=1e-12), t
        fut = {r["t"]: r["hw_forecast"] for r in out if r["is_future"]}
        run = 0.0
        for k in range(1, h + 1):
            run += ph**k
            assert fut[len(y) + k - 1] == pytest.approx(
                level + run * trend + seas[(len(y) + k - 1) % m], abs=1e-12
            )
        # phi=1 == the classic form, value for value
        classic = holt_winters(
            df, "t", "v", ["sid"], season_rows=m,
            alpha=a, beta=b_, gamma=g, horizon=h,
        ).collect()
        phi1 = holt_winters(
            df, "t", "v", ["sid"], season_rows=m,
            alpha=a, beta=b_, gamma=g, horizon=h, phi=1.0,
        ).collect()
        key = lambda rs: sorted(
            (r["t"], r["hw_forecast"], r["is_future"]) for r in rs
        )
        assert key(phi1) == key(classic)
        with pytest.raises(ValueError, match="phi"):
            holt_winters(df, "t", "v", ["sid"], season_rows=m, phi=0.0)

    def test_perfect_additive_series_converges_and_extrapolates(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import holt_winters

        seas = [2.0, -1.0, -3.0, 2.0]
        truth = lambda t: 10.0 + 0.5 * t + seas[t % 4]
        rows = [("s", t, truth(t)) for t in range(48)]
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        out = holt_winters(
            df, "t", "v", ["sid"], season_rows=4,
            alpha=0.3, beta=0.1, gamma=0.3, horizon=4,
        ).collect()
        tail = [
            r["abs_err"] for r in out if not r["is_future"] and r["t"] >= 44
        ]
        assert all(e < 0.15 for e in tail), tail
        for r in out:
            if r["is_future"]:
                assert r["hw_forecast"] == pytest.approx(
                    truth(r["t"]), abs=0.3
                ), r["t"]

    def test_beats_seasonal_naive_on_trend(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            holt_winters,
            seasonal_naive_forecast,
        )

        seas = [5.0, 0.0, -5.0, 0.0]
        rows = [
            ("s", t, 100.0 + 2.0 * t + seas[t % 4]) for t in range(60)
        ]
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        hw = holt_winters(df, "t", "v", ["sid"], season_rows=4).collect()
        nv = seasonal_naive_forecast(df, "t", "v", ["sid"], season_rows=4).collect()
        hw_final = max((r for r in hw), key=lambda r: r["t"])["hw_mae"]
        nv_final = max((r for r in nv), key=lambda r: r["t"])["naive_mae"]
        # naive lags the trend by a full season (error ~= m*slope = 8);
        # HW learns the trend
        assert nv_final > 6.0
        assert hw_final < nv_final / 2

    def test_multi_series_and_short_series(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import holt_winters

        rows = [("a", i, float(i + 1)) for i in range(6)] + [
            ("b", i, 7.0) for i in range(3)  # < 2*m: too short
        ]
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        out = holt_winters(
            df, "t", "v", ["sid"], season_rows=2,
            alpha=0.5, beta=0.5, gamma=0.5, horizon=2,
        ).collect()
        a = [r for r in out if r["sid"] == "a"]
        b = [r for r in out if r["sid"] == "b"]
        # series a matches the single-series run exactly (independence)
        ins = {r["t"]: r["hw_forecast"] for r in a if not r["is_future"]}
        assert ins[5] == pytest.approx(6.359375, abs=1e-12)
        # short series: rows preserved, all-null forecasts, no future rows
        assert len(b) == 3
        assert all(r["hw_forecast"] is None and not r["is_future"] for r in b)

    def test_future_rows_assemble_without_future_warning(self):
        """The per-series frame (no Spark): pandas' all-NA concat
        deprecation must not fire, so a pandas upgrade cannot change the
        dtypes the grouped map returns."""
        import warnings

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import _hw_fit

        pdf = pd.DataFrame({"sid": "s", "t": [5, 0, 3, 1, 4, 2]})
        pdf["v"] = pdf["t"] + 1.0  # y = 1..6 in time order
        with warnings.catch_warnings():
            warnings.simplefilter("error", FutureWarning)
            out = _hw_fit(
                pdf, keys=["sid"], ts_col="t", value_col="v", m=2,
                params=(0.5, 0.5, 0.5, 1.0), h=3,
            )
        fut = out[out["is_future"]]
        assert fut["t"].tolist() == [6, 7, 8]
        assert fut["hw_forecast"].iloc[0] == pytest.approx(6.92578125, abs=1e-12)
        assert fut["hw_forecast"].iloc[1] == pytest.approx(8.083984375, abs=1e-12)
        assert out.dtypes["v"] == out.dtypes["abs_err"] == out.dtypes["hw_mae"] == "float64"
        assert fut[["v", "abs_err", "hw_mae"]].isna().all().all()

    def test_null_value_raises_and_param_validation(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import holt_winters

        df = spark.createDataFrame(
            [("s", 0, 1.0), ("s", 1, None), ("s", 2, 3.0), ("s", 3, 4.0)],
            "sid string, t int, v double",
        )
        with pytest.raises(Exception, match="fill the grid"):
            holt_winters(df, "t", "v", ["sid"], season_rows=2).collect()
        with pytest.raises(ValueError, match="alpha"):
            holt_winters(df, "t", "v", ["sid"], season_rows=2, alpha=1.0)
        with pytest.raises(ValueError, match="season_rows"):
            holt_winters(df, "t", "v", ["sid"], season_rows=1)


class TestRegisterTables:
    """sources.readers.register_tables — the spark.sql surface."""

    def test_sql_over_registered_views(self, spark, sf_dir):
        from amonaly_detection_in_time_series_data_spark.sources.readers import register_tables

        got = register_tables(spark, sf_dir)
        assert {"lineitem", "orders", "events", "documents"} <= set(got)
        # a real multi-table ANSI query through the view surface
        row = spark.sql(
            """
            SELECT n.n_name, COUNT(*) AS n_orders
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name ORDER BY n_orders DESC, n.n_name LIMIT 1
            """
        ).collect()[0]
        assert row["n_orders"] > 0
        # the ns-timestamp conversion held through the view: ts is a
        # real timestamp, usable in SQL date functions
        r = spark.sql(
            "SELECT MIN(date_trunc('hour', ts)) AS h FROM events"
        ).collect()[0]
        assert r["h"] is not None
        # prefix mode and missing-table skip
        got2 = register_tables(
            spark, sf_dir, tables=("events", "nope"), prefix="t_"
        )
        assert set(got2) == {"events"}
        assert spark.sql("SELECT COUNT(*) c FROM t_events").collect()[0]["c"] > 0


class TestM4Downsample:
    """operators.timeseries.m4_downsample — error-free chart decimation."""

    def _df(self, spark, n=400):
        import math

        rows = [
            (
                "s",
                f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00",
                math.sin(i / 7.0) * 10 + (100.0 if i == 123 else 0.0),
            )
            for i in range(n)
        ]
        return (
            spark.createDataFrame(rows, "sid string, ts string, v double")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    def test_extremes_survive_and_output_bounded(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import m4_downsample

        df = self._df(spark)
        out = m4_downsample(df, "ts", "v", ["sid"], n_buckets=20)
        rows = out.collect()
        assert 0 < len(rows) <= 4 * 20
        vals = [r["v"] for r in rows]
        full = [r["v"] for r in df.collect()]
        # global min/max are bucket extremes somewhere -> always kept
        assert max(vals) == max(full)  # the injected spike survives
        assert min(vals) == min(full)
        # first/last rows of the whole series survive (bucket 0 / last)
        ts_all = sorted(r["ts"] for r in df.collect())
        ts_kept = {r["ts"] for r in rows}
        assert ts_all[0] in ts_kept and ts_all[-1] in ts_kept
        # per-bucket contract: each bucket's min/max present
        import collections

        by_bucket = collections.defaultdict(list)
        for r in rows:
            by_bucket[r["bucket"]].append(r["v"])
        assert all(len(v) <= 4 or True for v in by_bucket.values())

    def test_per_bucket_min_max_exact(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import m4_downsample

        df = self._df(spark, n=200)
        out = m4_downsample(df, "ts", "v", ["sid"], n_buckets=8)
        pdf = df.toPandas().sort_values("ts").reset_index(drop=True)
        lo, hi = pdf.ts.min().timestamp(), pdf.ts.max().timestamp()
        width = (hi - lo) / 8
        import collections

        truth = collections.defaultdict(list)
        for _, r in pdf.iterrows():
            b = min(int((r.ts.timestamp() - lo) / width), 7)
            truth[b].append(r.v)
        got = collections.defaultdict(set)
        for r in out.collect():
            got[r["bucket"]].add(r["v"])
        for b, vs in truth.items():
            assert min(vs) in got[b], b
            assert max(vs) in got[b], b

    def test_small_series_passthrough_and_validation(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import m4_downsample

        df = spark.createDataFrame(
            [("s", "2024-01-01 00:00:00", 1.0)], "sid string, ts string, v double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        assert m4_downsample(df, "ts", "v", ["sid"], 10).count() == 1
        with pytest.raises(ValueError, match="n_buckets"):
            m4_downsample(df, "ts", "v", ["sid"], 0)


class TestGapReport:
    """operators.timeseries.gap_report — continuity audit."""

    def test_hand_case(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import gap_report

        rows = [
            ("a", "2024-01-01 00:00:00"),
            ("a", "2024-01-01 01:00:00"),
            ("a", "2024-01-01 01:00:00"),   # duplicate ts
            ("a", "2024-01-01 05:00:00"),   # 4h gap -> 3 missing slots
            ("a", "2024-01-01 06:00:00"),
            ("b", "2024-01-01 00:00:00"),   # single row: no gaps
        ]
        df = spark.createDataFrame(rows, "sid string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        out = {r["sid"]: r.asDict() for r in gap_report(df, "ts", ["sid"]).collect()}
        a = out["a"]
        assert a["n_rows"] == 5
        assert a["n_gaps"] == 1
        assert a["max_gap_seconds"] == 4 * 3600.0
        assert a["missing_rows"] == 3
        assert a["n_dup_ts"] == 1
        assert str(a["span_start"]) == "2024-01-01 00:00:00"
        assert str(a["span_end"]) == "2024-01-01 06:00:00"
        b = out["b"]
        assert (b["n_rows"], b["n_gaps"], b["missing_rows"], b["n_dup_ts"]) == (
            1, 0, 0, 0,
        )
        assert b["max_gap_seconds"] is None

    def test_exact_grid_reports_clean(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import gap_report

        rows = [("s", f"2024-01-01 {h:02d}:00:00") for h in range(24)]
        df = spark.createDataFrame(rows, "sid string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        r = gap_report(df, "ts", ["sid"]).collect()[0]
        assert r["n_gaps"] == 0 and r["missing_rows"] == 0 and r["n_dup_ts"] == 0


class TestConformalBand:
    """operators.timeseries.conformal_band over holt_winters output."""

    def test_unit_mode_matches_float_on_grid_errors(self, spark):
        """r8 unit mode (cross-engine hash-exact tenth-unit quantile):
        on grid-valued errors it equals the float path to quantile-grid
        tolerance; off-grid coverage is refused."""
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            conformal_band,
        )

        rows = [
            ("s", i, 10.0 + i * 0.25, round(0.01 * ((i * 7) % 40), 2))
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "sid string, t int, hw_forecast double, abs_err double"
        )
        f = conformal_band(df, ["sid"], coverage=0.9).collect()
        u = conformal_band(
            df, ["sid"], coverage=0.9, unit_digits=2
        ).collect()
        fq = {r["t"]: (r["band_halfwidth"], r["band_lo"]) for r in f}
        uq = {r["t"]: (r["band_halfwidth"], r["band_lo"]) for r in u}
        for t in fq:
            assert uq[t][0] == pytest.approx(fq[t][0], abs=1e-9)
            assert uq[t][1] == pytest.approx(fq[t][1], abs=1e-9)
        with pytest.raises(ValueError, match="0.1 grid"):
            conformal_band(df, ["sid"], coverage=0.85, unit_digits=2)

    def test_coverage_and_width(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            conformal_band,
            holt_winters,
        )

        rng = np.random.RandomState(9)
        seas = [3.0, 0.0, -3.0, 0.0]
        rows = [
            ("s", t, 50.0 + 0.3 * t + seas[t % 4] + float(rng.randn()) * 0.5)
            for t in range(200)
        ]
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        fc = holt_winters(df, "t", "v", ["sid"], season_rows=4, horizon=4)
        banded = conformal_band(fc, ["sid"], coverage=0.9)
        rows_out = banded.collect()
        ins = [
            r for r in rows_out
            if not r["is_future"] and r["hw_forecast"] is not None
        ]
        covered = sum(
            1 for r in ins if r["band_lo"] <= r["v"] <= r["band_hi"]
        )
        # split-conformal marginal coverage: ~>= 0.9 on in-sample errors
        # (exactly >= by construction minus interpolation slack)
        assert covered / len(ins) >= 0.88, covered / len(ins)
        # future rows get bands too (same half-width, no value)
        fut = [r for r in rows_out if r["is_future"]]
        assert fut and all(
            r["band_lo"] is not None and r["band_hi"] is not None for r in fut
        )
        hw = {r["band_halfwidth"] for r in rows_out if r["band_halfwidth"]}
        assert len(hw) == 1  # one per-series half-width
        with pytest.raises(ValueError, match="coverage"):
            conformal_band(fc, ["sid"], coverage=1.5)


class TestThrottleAlerts:
    """operators.anomaly.throttle_alerts — both policies pinned on the
    burst case where they differ."""

    def _burst(self, spark):
        rows = []
        for m in range(21):  # alarm every minute, 00:00..00:20
            rows.append(("u", f"2024-01-01 00:{m:02d}:00", 1))
        rows.append(("u", "2024-01-01 02:00:00", 1))   # after quiet gap
        rows.append(("u", "2024-01-01 03:00:00", 0))   # non-alarm row
        rows.append(("v", "2024-01-01 00:00:00", 1))   # other key
        df = spark.createDataFrame(
            rows, "user_id string, ts string, is_anomaly int"
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    def _delivered(self, out):
        return sorted(
            str(r["ts"]) for r in out.collect()
            if r["user_id"] == "u" and r["alert_delivered"] == 1
        )

    def test_quiet_period_collapses_burst(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import throttle_alerts

        out = throttle_alerts(
            self._burst(spark), ["user_id"], "ts", cooldown="5 minutes"
        )
        assert self._delivered(out) == [
            "2024-01-01 00:00:00",   # first of the burst
            "2024-01-01 02:00:00",   # after the quiet window
        ]
        # row count preserved; non-alarm rows never delivered
        assert out.count() == 24
        assert (
            out.where("is_anomaly = 0 AND alert_delivered = 1").count() == 0
        )

    def test_fixed_cooldown_redelivers_mid_burst(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import throttle_alerts

        out = throttle_alerts(
            self._burst(spark), ["user_id"], "ts",
            cooldown="5 minutes", policy="fixed-cooldown",
        )
        assert self._delivered(out) == [
            "2024-01-01 00:00:00",
            "2024-01-01 00:06:00",
            "2024-01-01 00:12:00",
            "2024-01-01 00:18:00",
            "2024-01-01 02:00:00",
        ]

    def test_other_key_independent_and_bad_policy(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import throttle_alerts

        out = throttle_alerts(
            self._burst(spark), ["user_id"], "ts", cooldown="5 minutes"
        )
        v = [r for r in out.collect() if r["user_id"] == "v"]
        assert len(v) == 1 and v[0]["alert_delivered"] == 1
        with pytest.raises(ValueError, match="unknown policy"):
            throttle_alerts(
                self._burst(spark), ["user_id"], "ts", policy="nope"
            )


class TestPackageSurface:
    """The public API stays importable and __all__ stays honest."""

    def test_operators_all_resolves(self):
        import amonaly_detection_in_time_series_data_spark.operators as ops

        missing = [n for n in ops.__all__ if not hasattr(ops, n)]
        assert missing == [], missing

    def test_streaming_all_resolves(self):
        import amonaly_detection_in_time_series_data_spark.streaming as st

        missing = [n for n in st.__all__ if not hasattr(st, n)]
        assert missing == [], missing

    def test_r7_additions_exported(self):
        from amonaly_detection_in_time_series_data_spark.operators import (  # noqa: F401
            acf_lags,
            conformal_band,
            detector_metrics,
            dominant_period,
            gap_report,
            holt_winters,
            m4_downsample,
            pagerank,
            snapshot_diff,
            throttle_alerts,
        )
        from amonaly_detection_in_time_series_data_spark.streaming import (  # noqa: F401
            streaming_ewma_deviation,
        )


class TestForecastSelector:
    """operators.timeseries.forecast_selector — champion table."""

    def test_fused_finals_equal_composition(self, spark):
        """The r15 fused finals kernel (one applyInPandas computing all
        three model backtest MAEs per series) must be bit-equal to the
        pre-r15 composition: holt_winters x2 + theta_forecast, each
        reduced by max_by(mae, ts) and left-joined onto the naive
        table."""
        from pyspark.sql import functions as F

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            forecast_selector,
            holt_winters,
            seasonal_naive_forecast,
            theta_forecast,
        )

        import numpy as np

        seas = [5.0, 0.0, -5.0, 0.0]
        rows = []
        rng = np.random.default_rng(23)
        for t in range(60):
            rows.append(("a", t, 50.0 + 1.5 * t + seas[t % 4]))
            rows.append(("b", t, float(rng.normal(10, 2))))
        rows += [("short", t, 2.0 * t) for t in range(5)]
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        keys, ts, vc, m, phi = ["sid"], "t", "v", 4, 0.9

        nv_final = (
            seasonal_naive_forecast(df, ts, vc, keys, m)
            .groupBy(*keys)
            .agg(F.max_by("naive_mae", F.col(ts)).alias("naive_mae"))
        )

        def final_mae(p, out):
            hw = holt_winters(df, ts, vc, keys, season_rows=m, phi=p)
            return (
                hw.where(~F.col("is_future"))
                .groupBy(*keys)
                .agg(F.max_by("hw_mae", F.col(ts)).alias(out))
            )

        th_final = (
            theta_forecast(df, ts, vc, keys)
            .groupBy(*keys)
            .agg(F.max_by("theta_mae", F.col(ts)).alias("theta_mae"))
        )
        composed = (
            nv_final.join(final_mae(1.0, "hw_mae"), keys, "left")
            .join(final_mae(phi, "hw_damped_mae"), keys, "left")
            .join(th_final, keys, "left")
            .toPandas()
            .sort_values("sid")
            .reset_index(drop=True)
        )
        fused = (
            forecast_selector(df, ts, vc, keys, season_rows=m, phi=phi)
            .select(
                "sid", "naive_mae", "hw_mae", "hw_damped_mae", "theta_mae"
            )
            .toPandas()
            .sort_values("sid")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(composed, fused, check_exact=True)

    def test_hw_wins_on_trend_naive_wins_on_pure_period(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            forecast_selector,
        )

        seas = [5.0, 0.0, -5.0, 0.0]
        rows = []
        for t in range(80):
            rows.append(("trend", t, 100.0 + 2.0 * t + seas[t % 4]))
            rows.append(("pure", t, 10.0 + seas[t % 4]))  # exactly periodic
        rows += [("short", t, 1.0 * t) for t in range(5)]  # too short for HW
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        out = {
            r["sid"]: r.asDict()
            for r in forecast_selector(df, "t", "v", ["sid"], season_rows=4).collect()
        }
        assert out["trend"]["chosen"] == "holt_winters"
        assert out["trend"]["mae_ratio"] < 0.5
        # the exactly-periodic series: naive error is 0 -> unbeatable
        assert out["pure"]["naive_mae"] == pytest.approx(0.0)
        assert out["pure"]["chosen"] == "naive"
        # too short to initialize HW — but theta (r8 fourth candidate)
        # needs only min_points=3, and on a clean linear ramp it beats
        # the seasonal-naive's period-lag error
        assert out["short"]["hw_mae"] is None
        assert out["short"]["theta_mae"] is not None
        assert out["short"]["chosen"] == "theta"

    def test_damped_wins_on_saturating_trend(self, spark):
        """r8 third candidate: a ramp that PLATEAUS — the linear trend
        keeps extrapolating into the flat region while phi-damping
        decays it, so the damped form takes the champion slot."""
        import math

        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            forecast_selector,
        )

        seas = [3.0, 0.0, -3.0, 0.0]
        rows = [
            ("sat", t, 100.0 * (1.0 - math.exp(-t / 15.0)) + seas[t % 4])
            for t in range(96)
        ]
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        out = forecast_selector(
            df, "t", "v", ["sid"], season_rows=4, phi=0.8
        ).collect()[0]
        # the damping claim: phi < 1 beats the linear-trend form AND the
        # naive baseline on a plateauing ramp
        assert out["hw_damped_mae"] < out["hw_mae"]
        assert out["hw_damped_mae"] < out["naive_mae"]
        # r8 fourth candidate: the champion is the argmin of all four —
        # on this fixture theta's SES-with-drift edges out damped HW,
        # and the selector must report whichever is measured best
        cands = {
            "theta": out["theta_mae"],
            "holt_winters_damped": out["hw_damped_mae"],
            "holt_winters": out["hw_mae"],
        }
        best_val, best_name = min(
            (v, k) for k, v in cands.items() if v is not None
        )
        assert best_val < out["naive_mae"]
        assert out["chosen"] == best_name, out


class TestHampelFlags:
    """operators.anomaly.hampel_flags vs an independent reference loop."""

    @staticmethod
    def _ref(xs, w, k=3.0, centered=True):
        import statistics as st

        out = []
        n = len(xs)
        for i in range(n):
            if centered:
                win = xs[max(0, i - w): i + w + 1]
            else:
                win = xs[max(0, i - w): i]
            if not win:
                out.append((None, None, 0))
                continue
            sw = sorted(win)
            m = len(sw)
            med = (sw[(m + 1) // 2 - 1] + sw[(m + 2) // 2 - 1]) / 2.0
            devs = sorted(abs(v - med) for v in win)
            mad = (devs[(m + 1) // 2 - 1] + devs[(m + 2) // 2 - 1]) / 2.0
            if mad == 0.0:
                flag = int(xs[i] != med)
            else:
                flag = int(abs(xs[i] - med) > k * 1.4826 * mad)
            out.append((med, mad, flag))
        return out

    def _xs(self):
        import math
        import random

        rng = random.Random(13)
        xs = [math.sin(i / 5.0) * 2 + rng.gauss(0, 0.1) for i in range(120)]
        for i in (30, 31, 77):  # adjacent spikes: the masking case
            xs[i] += 25.0
        return xs

    @pytest.mark.parametrize("centered", [True, False])
    def test_matches_reference(self, spark, centered):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import hampel_flags

        xs = self._xs()
        df = spark.createDataFrame(
            [("s", i, x) for i, x in enumerate(xs)],
            "sid string, t int, v double",
        )
        out = {
            r["t"]: (r["hampel_median"], r["hampel_mad"], r["hampel_flag"])
            for r in hampel_flags(
                df, "v", 7, ["sid"], ["t"], centered=centered
            ).collect()
        }
        ref = self._ref(xs, 7, centered=centered)
        for i, (med, mad, flag) in enumerate(ref):
            gm, gd, gf = out[i]
            if med is None:
                assert gm is None
            else:
                assert gm == pytest.approx(med, abs=1e-12), i
                assert gd == pytest.approx(mad, abs=1e-12), i
            assert gf == flag, i

    def test_catches_adjacent_spikes_no_false_positives(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import hampel_flags

        xs = self._xs()
        df = spark.createDataFrame(
            [("s", i, x) for i, x in enumerate(xs)],
            "sid string, t int, v double",
        )
        flagged = {
            r["t"]
            for r in hampel_flags(df, "v", 7, ["sid"], ["t"]).collect()
            if r["hampel_flag"] == 1
        }
        assert {30, 31, 77} <= flagged      # even the adjacent pair
        assert flagged <= {30, 31, 77}      # and nothing else (robustness)

    def test_single_window_exchange(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import hampel_flags

        df = spark.createDataFrame(
            [("s", i, float(i)) for i in range(20)],
            "sid string, t int, v double",
        )
        plan = (
            hampel_flags(df, "v", 5, ["sid"], ["t"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "BatchEvalPython" not in plan


class TestMoreScalers:
    """operators.scaling.standard_scale / robust_scale vs numpy/sklearn
    conventions (no sklearn in env — reference math inline)."""

    def _df(self, spark):
        rows = [
            (float(v), float(v) * 2 + 1, 7.0)
            for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 100]  # 100 = the outlier
        ]
        return spark.createDataFrame(rows, "a double, b double, c double")

    def test_standard_scale_matches_numpy(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.scaling import standard_scale

        df = self._df(spark)
        a = np.array([r["a"] for r in df.collect()])
        want = (a - a.mean()) / a.std(ddof=1)
        got = sorted(r["a"] for r in standard_scale(df, ["a", "c"]).collect())
        assert got == pytest.approx(sorted(want.tolist()), abs=1e-12)
        # constant column -> 0.0 everywhere
        assert {r["c"] for r in standard_scale(df, ["c"]).collect()} == {0.0}

    def test_robust_scale_outlier_immune(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.scaling import robust_scale

        df = self._df(spark)
        a = np.array([r["a"] for r in df.collect()])
        q1, med, q3 = np.percentile(a, [25, 50, 75])  # linear interp = F.percentile
        want = sorted(((a - med) / (q3 - q1)).tolist())
        got = sorted(r["a"] for r in robust_scale(df, ["a"]).collect())
        assert got == pytest.approx(want, abs=1e-12)
        # the scaled median sits at 0 and the bulk within ~[-1, 1]
        # regardless of the outlier (the point of rank statistics)
        inner = [v for v in got if abs(v) <= 1.0]
        assert len(inner) >= 7
        assert {r["c"] for r in robust_scale(df, ["c"]).collect()} == {0.0}

    def test_unit_modes_match_float_on_grid_data(self, spark):
        """unit_digits (r8, cross-engine hash-exact sums): on data
        already on the grid both scalers equal their float twins to
        float tolerance; constant columns still map to 0.0."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.scaling import (
            robust_scale,
            standard_scale,
        )

        rng = np.random.RandomState(5)
        rows = [(round(float(v), 2), 7.0) for v in rng.uniform(0, 100, 200)]
        df = spark.createDataFrame(rows, "a double, c double")
        for op in (standard_scale, robust_scale):
            f = sorted(r["a"] for r in op(df, ["a"]).collect())
            i = sorted(r["a"] for r in op(df, ["a"], unit_digits=2).collect())
            assert i == pytest.approx(f, abs=1e-9)
            assert {r["c"] for r in op(df, ["c"], unit_digits=2).collect()} == {
                0.0
            }
    """functions.vectors — truncation/normalization exprs."""

    def test_truncate_and_normalize(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.functions.vectors import (
            cosine_similarity,
            l2_normalize,
            truncate_embedding,
        )

        rows = [([3.0, 4.0, 0.0, 12.0],), ([0.0, 0.0, 0.0, 0.0],)]
        df = spark.createDataFrame(rows, "v array<double>")
        out = df.select(
            truncate_embedding(F.col("v"), 2).alias("t2"),
            l2_normalize(F.col("v")).alias("n"),
        ).collect()
        # [3,4] -> unit [0.6, 0.8]
        assert out[0]["t2"] == pytest.approx([0.6, 0.8], abs=1e-12)
        assert np.linalg.norm(out[0]["n"]) == pytest.approx(1.0, abs=1e-12)
        # zero vector: stays zero, never NaN
        assert out[1]["t2"] == [0.0, 0.0]
        assert out[1]["n"] == [0.0, 0.0, 0.0, 0.0]
        # truncated cosine ~ full cosine for front-loaded vectors
        a = [1.0, 0.5, 0.01, 0.01]
        b = [0.9, 0.6, 0.02, 0.0]
        df2 = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
        r = df2.select(
            cosine_similarity(
                truncate_embedding(F.col("a"), 2),
                truncate_embedding(F.col("b"), 2),
            ).alias("c2"),
            cosine_similarity(F.col("a"), F.col("b")).alias("c4"),
        ).collect()[0]
        assert r["c2"] == pytest.approx(r["c4"], abs=0.01)


class TestSaltedJoin:
    """operators.relational.salted_join — skew-resistant equi-join must
    be row-for-row identical to the plain join (duplicates included)."""

    def _sides(self, spark):
        import random

        rng = random.Random(23)
        # heavy skew: key 0 owns 70% of the probe side; duplicate keys
        # on BOTH sides so multiplicity is actually exercised
        left = [
            (0 if rng.random() < 0.7 else rng.randrange(10), i, rng.randrange(100))
            for i in range(600)
        ]
        right = [
            (k, f"r{k}_{j}") for k in range(8) for j in range(rng.randrange(1, 4))
        ]
        return (
            spark.createDataFrame(left, "k int, rid int, v int"),
            spark.createDataFrame(right, "k int, tag string"),
        )

    def test_matches_plain_join_all_hows(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.relational import (
            salted_join,
        )

        left, right = self._sides(spark)
        for how in ("inner", "left", "left_semi", "left_anti"):
            plain = left.join(right, ["k"], how)
            salted = salted_join(left, right, ["k"], "rid", n_salt=7, how=how)
            assert sorted(map(tuple, salted.collect())) == sorted(
                map(tuple, plain.collect())
            ), how
        plan = (
            salted_join(left, right, ["k"], "rid", n_salt=7)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        with pytest.raises(ValueError, match="unsupported"):
            salted_join(left, right, ["k"], "rid", how="full")


class TestTrendOlsExpanding:
    """operators.anomaly.trend_ols_expanding — per-row past-only OLS
    from running integer sums, vs an independent numpy loop."""

    def test_matches_numpy_expanding_fit(self, spark):
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            trend_ols_expanding,
        )

        rng = np.random.RandomState(4)
        rows = []
        for sid in ("a", "b"):
            base = 5.0 if sid == "a" else 50.0
            slope = 0.5 if sid == "a" else -1.25
            for t in range(60):
                v = round(base + slope * t + float(rng.randn()) * 0.25, 2)
                rows.append((sid, t, v))
        rows[30] = ("a", 30, rows[30][2] + 40.0)  # planted departure
        df = spark.createDataFrame(rows, "sid string, t int, v double")
        out = {
            (r["sid"], r["t"]): (
                r["trend_run_slope"], r["trend_run_fit"],
                r["trend_run_z"], r["trend_run_alarm"],
            )
            for r in trend_ols_expanding(
                df, "v", ["sid"], ["t"], unit_digits=2
            ).collect()
        }
        for sid in ("a", "b"):
            ys = [v for s, t, v in rows if s == sid]
            for t in range(60):
                got = out[(sid, t)]
                if t < 3:
                    assert got == (None, None, None, None), (sid, t)
                    continue
                x = np.arange(t, dtype=float)
                y = np.array(ys[:t])
                b, a = np.polyfit(x, y, 1)
                resid = y - (a + b * x)
                s = float(np.sqrt((resid**2).sum() / (t - 2)))
                fit = a + b * t
                assert got[0] == pytest.approx(b, abs=1e-6), (sid, t)
                assert got[1] == pytest.approx(fit, abs=1e-4), (sid, t)
                if s > 0:
                    assert got[2] == pytest.approx(
                        (ys[t] - fit) / s, abs=1e-3
                    ), (sid, t)
        # the planted spike is flagged; its clean neighbours are not
        assert out[("a", 30)][3] == 1
        assert out[("a", 29)][3] == 0 and out[("a", 32)][3] == 0

    def test_single_exchange_plan(self, spark):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            trend_ols_expanding,
        )

        df = spark.createDataFrame(
            [("s", i, float(i)) for i in range(20)],
            "sid string, t int, v double",
        )
        plan = (
            trend_ols_expanding(df, "v", ["sid"], ["t"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan


class TestFlagSequenceAnomalies:
    def test_plan_has_one_scoring_pass(self, spark, sf_dir):
        """The 3-sigma flags collect the global mu/sigma once (r13), so
        the flagged plan carries exactly one Arrow scoring stage and NO
        stats subtree: column pruning cannot cross ``mapInPandas``, and a
        lazy stats branch would re-run the whole scoring pass on every
        action. Logical plan, since AQE hides the physical tree until
        execution."""
        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            flag_sequence_anomalies,
            sequence_reconstruction_scores,
        )
        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            init_lstm_ae,
        )
        from amonaly_detection_in_time_series_data_spark.operators.sequences import (
            create_sequences,
        )

        ev = load_table(spark, sf_dir, "events")
        seqs = create_sequences(
            ev, ["value"], 12, ["user_id"], ["ts", "event_id"], stride=12
        )
        model = init_lstm_ae(input_dim=1, hidden_dim=4, embedding_dim=2,
                             n_layers=1, seed=5)
        scored = sequence_reconstruction_scores(seqs, "seq", model=model)
        flagged = flag_sequence_anomalies(scored)
        plan = flagged._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
        assert "stddev_samp" not in plan
