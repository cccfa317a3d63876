"""The adversarial skew sweep: one fixture family with a planted
mega-group per blocked-join operator — mega-basket (basket_rules),
mega-band (band_join), mega-block (blocked_fuzzy_join), mega-bucket
(minhash LSH + embedding LSH), high-df prefix grams
(prefix_jaccard_join) and a mega-user hot key (salted_agg) — asserting
that EVERY cap knob actually binds (excluded-count > 0 / candidate
volume bounded) and that the surviving output is exactly the
brute-force answer on the uncapped rest. The 100 TB "bounded under
skew" claim as a single reproducible gate, per operator:

=========================  ==================  =========================
operator                   knob                binding evidence
=========================  ==================  =========================
basket_rules               max_basket_size     excluded (basket, size)
band_join                  max_band_size       excluded (bucket, size)
blocked_fuzzy_join         max_block_size      hot block absent, rest ok
minhash_lsh_pairs          max_bucket_size     flood pairs absent
embedding_neardup_pairs    max_bucket_size     flood pairs absent
prefix_jaccard_join        max_gram_df         excluded (gram, df)
salted_agg                 n_salt              hot key spread over salts
=========================  ==================  =========================
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.operators.linkage import (
    blocked_fuzzy_join,
)
from amonaly_detection_in_time_series_data_spark.operators.product_analytics import (
    basket_rules,
)
from amonaly_detection_in_time_series_data_spark.operators.relational import (
    band_join,
    salted_agg,
)
from amonaly_detection_in_time_series_data_spark.operators.similarity import (
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    prefix_jaccard_join,
)

FLOOD = 120  # planted mega-group population
CAP = 10


class TestMegaBasket:
    def test_cap_binds(self, spark):
        normal = [(b, f"it{i}") for b in range(5) for i in range(4)]
        mega = [(999, f"bot{i}") for i in range(FLOOD)]
        df = spark.createDataFrame(normal + mega, ["basket", "item"])
        rules, excluded = basket_rules(
            df, "basket", "item", 1,
            max_basket_size=CAP, return_excluded=True,
        )
        ex = excluded.collect()
        assert [(r["basket"], r["basket_size"]) for r in ex] == [(999, FLOOD)]
        pair_rows = rules.collect()
        # no pair involves a flood item; normal pairs all present
        assert all(not r["item_a"].startswith("bot") for r in pair_rows)
        expect_pairs = set(
            itertools.combinations(sorted(f"it{i}" for i in range(4)), 2)
        )
        assert {(r["item_a"], r["item_b"]) for r in pair_rows} == expect_pairs


class TestMegaBand:
    def test_cap_binds(self, spark):
        mega = [(i, 7.00) for i in range(FLOOD)]
        normal = [(5000, 99.00), (5001, 99.02)]
        l = spark.createDataFrame(
            [(1, 7.01), (2, 99.01)], ["lid", "lv"]
        )
        r = spark.createDataFrame(mega + normal, ["rid", "rv"])
        pairs, excluded = band_join(
            l, r, "lv", "rv", 0.05, scale=100,
            left_keep=["lid"], right_keep=["rid"],
            max_band_size=CAP, return_excluded=True,
        )
        ex = excluded.collect()
        assert len(ex) == 1 and ex[0]["band_size"] == FLOOD
        got = {(x["l_lid"], x["r_rid"]) for x in pairs.collect()}
        assert got == {(2, 5000), (2, 5001)}


class TestMegaBlock:
    def test_cap_binds(self, spark):
        # every flood name shares the block prefix "unk"; two normal
        # near-matches in another block survive
        mega = [(i, f"unknown {i}") for i in range(FLOOD)]
        normal = [(9000, "goldenrod lavender"), (9001, "azure mint")]
        left = spark.createDataFrame(
            [(1, "unknown 7"), (2, "goldenrod lavendr")], ["lid", "name"]
        )
        right = spark.createDataFrame(mega + normal, ["rid", "name"])
        out = blocked_fuzzy_join(
            left, right, "name", "name", max_edit=2,
            left_keep=["lid"], right_keep=["rid"],
            best_per_left=False, max_block_size=CAP,
        ).collect()
        got = {(r["l_lid"], r["r_rid"]) for r in out}
        assert got == {(2, 9000)}  # hot "unk" block dropped entirely


class TestMegaBucketMinhash:
    def test_cap_binds(self, spark):
        # FLOOD identical docs -> one LSH bucket of FLOOD members in
        # every band; two distinct near-dup docs survive the cap
        flood = [(i, "the same boilerplate text repeated all over again") for i in range(FLOOD)]
        pair = [
            (9000, "unique mountain river forest cloud morning light"),
            (9001, "unique mountain river forest cloud morning glow"),
        ]
        docs = spark.createDataFrame(flood + pair, ["doc_id", "text"])
        sigs = minhash_signatures(docs, "text", "doc_id", n_hashes=8)
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(
                sigs, n_bands=4, max_bucket_size=CAP
            ).collect()
        }
        assert got == {(9000, 9001)}
        # and without the cap the flood triangle is the output — the
        # cap is what removed C(FLOOD,2) pairs
        uncapped = minhash_lsh_pairs(sigs, n_bands=4).count()
        assert uncapped >= FLOOD * (FLOOD - 1) // 2


class TestMegaBucketEmbedding:
    def test_cap_binds(self, spark):
        # zero-vector flood all hash to one bucket per table
        flood = [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(FLOOD)]
        pair = [(9000, [1.0, 0.9, 0.1, 0.0]), (9001, [1.0, 0.91, 0.1, 0.0])]
        emb = spark.createDataFrame(flood + pair, ["vec_id", "embedding"])
        rows = embedding_neardup_pairs(
            emb, dim=4, n_planes=2, threshold=0.9, max_bucket_size=CAP
        ).collect()
        ids = {(r["id_a"], r["id_b"]) for r in rows}
        assert (9000, 9001) in ids
        assert all(a >= 9000 and b >= 9000 for a, b in ids)


class TestHighDfPrefixGrams:
    def test_cap_binds(self, spark):
        # FLOOD tiny docs that are ALL the same 3 tokens -> their single
        # gram has df=FLOOD and is prefix-resident for every one of them
        flood = [(i, "alpha beta gamma") for i in range(FLOOD)]
        pair = [
            (9000, "delta epsilon zeta eta theta iota kappa"),
            (9001, "delta epsilon zeta eta theta iota lambda"),
        ]
        docs = spark.createDataFrame(flood + pair, ["doc_id", "text"])
        pairs, excluded = prefix_jaccard_join(
            docs, "text", "doc_id", threshold_num=1, threshold_den=2,
            max_gram_df=CAP, return_excluded=True,
        )
        ex = excluded.collect()
        assert len(ex) == 1 and ex[0]["df"] == FLOOD
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        # the flood's C(FLOOD,2) identical pairs are gone (their only
        # gram lost its index entry); the rare-gram pair survives EXACT
        assert got == {(9000, 9001)}

    def test_survivors_are_exact(self, spark):
        # with the cap NOT binding, output is identical to uncapped
        docs = spark.createDataFrame(
            [
                (1, "one two three four five six"),
                (2, "one two three four five seven"),
                (3, "totally different text content here now"),
            ],
            ["doc_id", "text"],
        )
        capped = prefix_jaccard_join(
            docs, "text", "doc_id", 1, 2, max_gram_df=1000
        )
        plain = prefix_jaccard_join(docs, "text", "doc_id", 1, 2)
        key = lambda r: (r["id_a"], r["id_b"], r["inter"])
        assert sorted(map(key, capped.collect())) == sorted(
            map(key, plain.collect())
        )


class TestMegaUserSaltedAgg:
    def test_hot_key_spreads_and_result_exact(self, spark):
        n_salt = 16
        rows = [("hot", i, float(i % 7)) for i in range(FLOOD * 20)] + [
            ("cold", i, float(i)) for i in range(10)
        ]
        df = spark.createDataFrame(rows, ["k", "rid", "v"])
        # the partial-aggregate spread: the hot key's rows land on every
        # salt value, so no reducer sees more than ~rows/n_salt of it
        spread = (
            df.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col("rid")), F.lit(n_salt))
            )
            .filter(F.col("k") == "hot")
            .groupBy("_salt")
            .count()
            .collect()
        )
        assert len(spread) == n_salt
        assert max(r["count"] for r in spread) < 2 * (FLOOD * 20) / n_salt
        got = {
            r["k"]: (r["v_sum"], r["v_count"], r["v_min"], r["v_max"])
            for r in salted_agg(df, ["k"], "v", "rid", n_salt).collect()
        }
        hot_vals = [float(i % 7) for i in range(FLOOD * 20)]
        assert got["hot"] == (
            sum(hot_vals), len(hot_vals), min(hot_vals), max(hot_vals)
        )
        assert got["cold"] == (45.0, 10, 0.0, 9.0)
