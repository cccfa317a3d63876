"""basket_rules (pairwise association rules): equality against a
Python brute force — support/confidence/lift definitions under
basket-presence semantics (in-basket duplicates collapse), the
min_pair_count prune, NULL hygiene, and the known-lift fixture.
"""

from __future__ import annotations

import itertools
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from amonaly_detection_in_time_series_data_spark.operators.product_analytics import (
    basket_rules,
)


def _brute(rows, min_pair_count=2):
    b = {(bk, it) for bk, it in rows if bk is not None and it is not None}
    baskets: dict[object, set] = {}
    for bk, it in b:
        baskets.setdefault(bk, set()).add(it)
    n_baskets = len(baskets)
    n_item: dict[object, int] = {}
    pair_n: dict[tuple, int] = {}
    for items in baskets.values():
        for it in items:
            n_item[it] = n_item.get(it, 0) + 1
        for x, y in itertools.combinations(sorted(items), 2):
            pair_n[(x, y)] = pair_n.get((x, y), 0) + 1
    out = {}
    for (x, y), pn in pair_n.items():
        if pn < min_pair_count:
            continue
        out[(x, y)] = (
            pn,
            n_item[x],
            n_item[y],
            pn / n_baskets,
            pn / n_item[x],
            pn / n_item[y],
            (pn * n_baskets) / (n_item[x] * n_item[y]),
            pn / math.sqrt(n_item[x] * n_item[y]),
        )
    return out


def _run(spark, rows, min_pair_count=2, **kw):
    df = spark.createDataFrame(rows, ["basket", "item"])
    got = basket_rules(df, "basket", "item", min_pair_count, **kw).collect()
    return {
        (r["item_a"], r["item_b"]): (
            r["pair_n"], r["n_a"], r["n_b"],
            r["support"], r["conf_a_b"], r["conf_b_a"], r["lift"],
            r["cosine"],
        )
        for r in got
    }


class TestBasketRules:
    def test_known_lift_fixture(self, spark):
        # 4 baskets; {a,b} together twice, a in 2, b in 3:
        # support 2/4, conf a->b 2/2=1.0, conf b->a 2/3, lift 2*4/(2*3)
        rows = [
            (1, "a"), (1, "b"),
            (2, "a"), (2, "b"),
            (3, "b"), (3, "c"),
            (4, "c"),
        ]
        got = _run(spark, rows, min_pair_count=2)
        assert set(got) == {("a", "b")}
        pn, na, nb, sup, cab, cba, lift, cos = got[("a", "b")]
        assert (pn, na, nb) == (2, 2, 3)
        assert sup == 2 / 4 and cab == 1.0 and cba == 2 / 3
        assert lift == (2 * 4) / (2 * 3)

    def test_in_basket_duplicates_collapse(self, spark):
        rows = [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b")]
        got = _run(spark, rows, min_pair_count=1)
        assert got[("a", "b")][0] == 2  # pair counted once per basket

    def test_min_pair_count_prunes(self, spark):
        rows = [(1, "a"), (1, "b"), (2, "b"), (2, "c")]
        assert set(_run(spark, rows, min_pair_count=2)) == set()
        assert set(_run(spark, rows, min_pair_count=1)) == {
            ("a", "b"), ("b", "c")
        }

    def test_nulls_dropped(self, spark):
        rows = [(1, "a"), (1, None), (None, "b"), (1, "b"), (2, "a"), (2, "b")]
        assert _run(spark, rows, 1) == _brute(rows, 1)

    def test_invalid_min_pair_count_raises(self, spark):
        import pytest

        df = spark.createDataFrame([(1, "a")], ["basket", "item"])
        with pytest.raises(ValueError):
            basket_rules(df, "basket", "item", 0)

    @settings(max_examples=20, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=6),
                st.sampled_from(["a", "b", "c", "d", "e"]),
            ),
            min_size=2,
            max_size=40,
        ),
        mpc=st.sampled_from([1, 2, 3]),
    )
    def test_property_equals_brute_force(self, spark, rows, mpc):
        assert _run(spark, rows, mpc) == _brute(rows, mpc)


class TestAprioriPrune:
    """The anti-monotone item prune is LOSSLESS: with it on the
    output — values AND denominators — equals both the default
    (apriori_prune=False) plan and brute force, on fixtures where the
    prune verifiably removes tail items and even whole baskets from
    the pair-generation input."""

    def _collect(self, rules):
        return {
            (r["item_a"], r["item_b"]): (
                r["pair_n"], r["n_a"], r["n_b"],
                r["support"], r["conf_a_b"], r["conf_b_a"], r["lift"],
                r["cosine"],
            )
            for r in rules.collect()
        }

    def test_tail_items_pruned_losslessly(self, spark):
        # x/y/z each appear in ONE basket -> pruned at mpc=2; basket 4
        # holds ONLY an infrequent item, so it vanishes from the pair
        # input entirely — yet n_baskets must still count it (support
        # for (a,b) is 3/4, not 3/3).
        rows = [
            (1, "a"), (1, "b"), (1, "x"),
            (2, "a"), (2, "b"), (2, "y"),
            (3, "a"), (3, "b"),
            (4, "z"),
        ]
        df = spark.createDataFrame(rows, ["basket", "item"])
        got = self._collect(
            basket_rules(df, "basket", "item", 2, apriori_prune=True)
        )
        off = self._collect(
            basket_rules(df, "basket", "item", 2, apriori_prune=False)
        )
        assert got == off == _brute(rows, 2)
        assert got[("a", "b")][3] == 3 / 4

    def test_noop_at_mpc_one(self, spark):
        rows = [(1, "a"), (1, "b"), (2, "c")]
        df = spark.createDataFrame(rows, ["basket", "item"])
        got = self._collect(
            basket_rules(df, "basket", "item", 1, apriori_prune=True)
        )
        assert got == _brute(rows, 1)

    @settings(max_examples=20, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=6),
                st.sampled_from(["a", "b", "c", "d", "e"]),
            ),
            min_size=2,
            max_size=40,
        ),
        mpc=st.sampled_from([2, 3, 4]),
    )
    def test_property_pruned_equals_unpruned(self, spark, rows, mpc):
        df = spark.createDataFrame(rows, ["basket", "item"])
        assert (
            self._collect(
                basket_rules(df, "basket", "item", mpc, apriori_prune=True)
            )
            == self._collect(
                basket_rules(df, "basket", "item", mpc, apriori_prune=False)
            )
            == _brute(rows, mpc)
        )


class TestMaxBasketSize:
    """The mega-basket cap: dropped baskets vanish from EVERY
    denominator (pair counts, item frequencies, basket total), so the
    capped output is byte-identical to brute force on the surviving
    baskets only."""

    def test_cap_binds_and_rest_matches_brute_force(self, spark):
        normal = [(b, it) for b in range(1, 6) for it in ("a", "b", "c")]
        mega = [(99, f"i{k}") for k in range(60)] + [(99, "a"), (99, "b")]
        df = spark.createDataFrame(normal + mega, ["basket", "item"])
        rules, excluded = basket_rules(
            df, "basket", "item", 1, max_basket_size=10, return_excluded=True
        )
        ex = excluded.collect()
        assert [(r["basket"], r["basket_size"]) for r in ex] == [(99, 62)]
        got = {
            (r["item_a"], r["item_b"]): (
                r["pair_n"], r["n_a"], r["n_b"],
                r["support"], r["conf_a_b"], r["conf_b_a"], r["lift"],
                r["cosine"],
            )
            for r in rules.collect()
        }
        assert got == _brute(normal, 1)

    def test_cap_not_binding_is_identity(self, spark):
        rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a")]
        base = _run(spark, rows, 1)
        df = spark.createDataFrame(rows, ["basket", "item"])
        rules, excluded = basket_rules(
            df, "basket", "item", 1, max_basket_size=100, return_excluded=True
        )
        assert excluded.count() == 0
        got = {
            (r["item_a"], r["item_b"]): (
                r["pair_n"], r["n_a"], r["n_b"],
                r["support"], r["conf_a_b"], r["conf_b_a"], r["lift"],
                r["cosine"],
            )
            for r in rules.collect()
        }
        assert got == base

    def test_validation(self, spark):
        import pytest

        df = spark.createDataFrame([(1, "a")], ["basket", "item"])
        with pytest.raises(ValueError):
            basket_rules(df, "basket", "item", 1, return_excluded=True)
        with pytest.raises(ValueError):
            basket_rules(df, "basket", "item", 1, max_basket_size=0)


class TestCapAndPrune:
    """The basket cap and the Apriori prune composed on one call."""

    def test_composes_with_cap_and_prune(self, spark):
        rows = (
            [(0, f"i{j}") for j in range(6)]  # over-cap basket
            + [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "b"), (3, "x")]
        )
        df = spark.createDataFrame(rows, ["basket", "item"])
        rules, excluded = basket_rules(
            df, "basket", "item", 2, max_basket_size=4,
            return_excluded=True, apriori_prune=True,
        )
        got = {
            (r["item_a"], r["item_b"]): r["pair_n"]
            for r in rules.collect()
        }
        assert got == {("a", "b"): 2}
        assert [
            (r["basket"], r["basket_size"]) for r in excluded.collect()
        ] == [(0, 6)]
