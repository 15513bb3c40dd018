"""Wave 72: a-priori itemsets + count-min sketch."""

from __future__ import annotations

from collections import Counter
from itertools import combinations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_itemsets_match_brute_force(spark):
    """Every frequent 2-/3-itemset and its support recomputed from raw
    baskets (with the planted bundle) by pure-Python combinations."""
    from vector_ai_npm_spark.io.sources import load_table
    from vector_ai_npm_spark.operators.analytics_ops import (
        _MINSUP,
        _PLANT,
        basket_itemsets_apriori,
    )

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    baskets = {}
    for r in li.collect():
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    for o in baskets:
        if o % 50 == 0:
            baskets[o] |= set(_PLANT)
    c2, c3 = Counter(), Counter()
    for items in baskets.values():
        s = sorted(items)
        c2.update(combinations(s, 2))
        c3.update(combinations(s, 3))
    # a-priori L1 prune never changes the frequent sets (monotonicity):
    # brute force over UNPRUNED baskets is the ground truth
    want2 = {k: v for k, v in c2.items() if v >= _MINSUP}
    want3 = {k: v for k, v in c3.items() if v >= _MINSUP}

    out = basket_itemsets_apriori(spark, SF).collect()
    got2 = {(r.i1, r.i2): r.support for r in out if r.k == 2}
    got3 = {(r.i1, r.i2, r.i3): r.support for r in out if r.k == 3}
    assert got2 == want2
    assert got3 == want3
    assert tuple(sorted(_PLANT)) in got3  # the planted bundle is frequent


def test_cms_contract_all_green(spark):
    from vector_ai_npm_spark.operators.sketch_bounds import (
        agg_count_min_sketch,
    )

    rows = agg_count_min_sketch(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.never_undercounts and r.within_slack
        assert r.merge_equals_oneshot


def test_cms_exact_counts_match_groupby(spark):
    from vector_ai_npm_spark.io.sources import load_table
    from vector_ai_npm_spark.operators.sketch_bounds import (
        agg_count_min_sketch,
    )

    got = {r.key: r.exact_count
           for r in agg_count_min_sketch(spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    want = {
        k: ev.where(F.col("user_id") == k).count() for k in got
    }
    assert got == want


def test_wave72_parity(spark, sf_smoke):
    from tests.oracle_harness import compare
    from vector_ai_npm_spark.registry import all_oracles

    o = all_oracles()
    for name in ("basket_itemsets_apriori", "agg_count_min_sketch"):
        problems = compare(spark, name, o[name], sf_smoke)
        assert not problems, (name, problems)
