"""Wave 59: entity-resolution pipeline invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_er_variants_recluster_to_their_customer(spark):
    """Every synthesized variant mention must land in its customer's
    cluster (recall through the transitive hub edge), and no cluster
    may span two customers (precision from md5 entropy)."""
    from vector_ai_npm_spark.dedup.components import er_cluster_mentions

    rows = er_cluster_mentions(spark, SF).collect()
    by_mention = {r.mention_id: r.entity_id for r in rows}
    custs = {m // 4 for m in by_mention}
    for m, e in by_mention.items():
        # entity id maps back to the same customer for every variant
        assert e // 4 == m // 4, (m, e)
    # cluster sizes: 1 (base only) / 2 / 3 depending on custkey mod 2,3
    from collections import Counter

    sizes = Counter()
    for m, e in by_mention.items():
        sizes[e] += 1
    for e, n in sizes.items():
        ck = e // 4
        want = 1 + (ck % 2 == 0) + (ck % 3 == 0)
        assert n == want, (ck, n, want)
    assert len(custs) > 0


def test_er_canonical_is_min_id_per_cluster(spark):
    from vector_ai_npm_spark.dedup.components import er_cluster_mentions

    df = er_cluster_mentions(spark, SF)
    agg = df.groupBy("entity_id").agg(
        F.min("mention_id").alias("mn"),
        F.sum(F.when(F.col("is_canonical"), 1).otherwise(0)).alias("nc"),
    )
    bad = agg.where((F.col("mn") != F.col("entity_id")) | (F.col("nc") != 1))
    assert bad.count() == 0


def test_er_pairs_never_cross_blocks(spark):
    """The blocking contract: the pair join is keyed on the block, so
    its plan is an equi-join (never a cartesian over mentions)."""
    from vector_ai_npm_spark.dedup.components import er_cluster_mentions

    plan = (
        er_cluster_mentions(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def _brute_components(rows):
    """Driver-side brute-force lev<=1-within-block components (union-find)."""
    def lev(a, b):
        if a == b:
            return 0
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return 2
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            for j in range(1, lb + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                             prev[j - 1] + (a[i - 1] != b[j - 1]))
            prev = cur
        return prev[lb]

    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_block = {}
    for i, n in rows:
        by_block.setdefault(n[:4], []).append((i, n))
    for members in by_block.values():
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                (ia, na), (ib, nb) = members[ai], members[bi]
                if lev(na, nb) <= 1:
                    ra, rb = find(ia), find(ib)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    # min-id canonical per component
    comp = {}
    for i, _ in rows:
        r = find(i)
        comp.setdefault(r, []).append(i)
    out = {}
    for members in comp.values():
        m = min(members)
        for i in members:
            out[i] = m
    return out


def test_er_skew_guard_hot_block_preserves_recall(spark):
    """A planted hot block (one shared 4-prefix, far over
    ER_BLOCK_BUDGET) must route through the deletion-key index and
    produce EXACTLY the brute-force components: exact dups collapse to
    star edges, lev-1 variants still connect, near-miss (lev 2) names
    stay apart."""
    import hashlib

    from vector_ai_npm_spark.dedup.components import assign_components
    from vector_ai_npm_spark.dedup.components import ER_BLOCK_BUDGET, _er_pairs

    rows = []
    # hot block: 300 base names sharing prefix 'aaaa', each with an
    # exact dup and a drop-one-char variant; plus a lev-2 decoy
    for k in range(300):
        base = "aaaa" + hashlib.md5(str(k).encode()).hexdigest()[:8]
        rows.append((k * 10, base))
        rows.append((k * 10 + 1, base))                      # exact dup
        rows.append((k * 10 + 2, base[:6] + base[7:]))       # deletion
        rows.append((k * 10 + 3, base[:6] + "ZZ" + base[8:]))  # lev 2 decoy
    # a few cold blocks exercising the small route in the same frame
    for k in range(20):
        nm = "b%03d" % k + hashlib.md5(str(-k).encode()).hexdigest()[:6]
        rows.append((100000 + k * 10, nm))
        rows.append((100000 + k * 10 + 1, nm + "q"))

    assert sum(1 for _, n in rows if n.startswith("aaaa")) > ER_BLOCK_BUDGET
    mentions = spark.createDataFrame(rows, "doc_id long, name string")
    got = {
        r.doc_id: r.component_id
        for r in assign_components(mentions, _er_pairs(mentions)).collect()
    }
    want = _brute_components(rows)
    assert got == want
    # the decoys really were decoys (own singleton clusters)
    for k in range(300):
        assert want[k * 10 + 3] == k * 10 + 3
        assert want[k * 10] == want[k * 10 + 1] == want[k * 10 + 2] == k * 10


def test_er_pair_set_identical_across_budgets(spark):
    """Connectivity-preservation stated strongly: components from the
    skew-guarded route (budget 1: EVERYTHING routes through deletion
    keys) equal components from the pure self-join route (huge budget)
    on the real fixture frame."""
    from vector_ai_npm_spark.dedup.components import assign_components
    from vector_ai_npm_spark.dedup.components import _er_pairs, _mentions

    mentions = _mentions(spark, SF)
    lo = {
        r.doc_id: r.component_id
        for r in assign_components(mentions, _er_pairs(mentions, budget=1)).collect()
    }
    hi = {
        r.doc_id: r.component_id
        for r in assign_components(
            mentions, _er_pairs(mentions, budget=10**9)
        ).collect()
    }
    assert lo == hi
