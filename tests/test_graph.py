"""Graph-operator invariants beyond the DuckDB parity gate.

Parity (test_oracle_parity) proves Spark ≡ SQL; these pin the parts SQL
equivalence can't see — that the degree-oriented triangle enumeration
finds the TRUE 3-cliques (brute force on the smoke graph), that PageRank
conserves probability mass, and that no graph plan hides a cross
product."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from vector_ai_npm_spark.operators.graph_ops import (
    copurchase_edges,
    graph_degree,
    graph_pagerank,
    graph_triangles,
)


def test_triangles_match_brute_force(spark, sf_smoke):
    """Degree orientation must not change the triangle set: compare the
    per-node counts against an adjacency-set brute force on sf0.001."""
    edges = {
        (r.src, r.dst)
        for r in copurchase_edges(spark, sf_smoke).select("src", "dst").collect()
    }
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    expected: dict[int, int] = {}
    for a, b, c in (
        t
        for node, nbrs in adj.items()
        for t in (
            (node, x, y)
            for x, y in combinations(sorted(nbrs), 2)
            if node < x and y in adj[x]
        )
    ):
        for v in (a, b, c):
            expected[v] = expected.get(v, 0) + 1
    got = {
        r.node: r.n_triangles for r in graph_triangles(spark, sf_smoke).collect()
    }
    assert got == expected
    assert sum(got.values()) % 3 == 0  # every triangle counted at 3 nodes


def test_degree_sums_to_twice_edges(spark, sf_smoke):
    n_edges = copurchase_edges(spark, sf_smoke).count()
    row = graph_degree(spark, sf_smoke).agg(
        F.sum("degree").alias("dsum"), F.count(F.lit(1)).alias("nodes")
    ).collect()[0]
    assert row.dsum == 2 * n_edges
    assert row.nodes > 0


def test_pagerank_conserves_mass(spark, sf_smoke):
    """Symmetric graph, no dangling nodes ⇒ Σ rank = 1 after any number
    of power steps (teleport redistributes exactly what damping holds
    back). The exact-decimal fold quantizes each r/d contribution to 8
    decimals (≤5e-9 per edge, identically in Spark and DuckDB — that's
    what makes parity exact), so mass drifts by O(edges · 5e-9) per
    step, not by float-order noise: ~3e-6 on the smoke graph."""
    pr = graph_pagerank(spark, sf_smoke)
    total = pr.agg(F.sum("pagerank").alias("t")).collect()[0].t
    assert abs(total - 1.0) < 1e-4
    assert pr.where(F.col("pagerank") <= 0).count() == 0


def test_graph_plans_have_no_cross_product(spark, sf_smoke):
    for df in (graph_triangles(spark, sf_smoke), graph_pagerank(spark, sf_smoke)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        # the only nested-loop join allowed is the broadcast of the
        # 1-row node-count aggregate (the teleport term)
        assert plan.count("BroadcastNestedLoopJoin") <= 4


def test_jaccard_hub_cap_is_conservative_lower_bound(spark, sf_smoke):
    """Capping the shared-neighbor center degree must (a) shrink the
    pair set to a subset and (b) never raise n_common for a surviving
    pair — the documented conservative-lower-bound contract."""
    from vector_ai_npm_spark.operators.graph_ops import (
        copurchase_edges,
        jaccard_neighbor_pairs,
    )

    edges = copurchase_edges(spark, sf_smoke).select("src", "dst")
    full = {
        (r.node_a, r.node_b): r.n_common
        for r in jaccard_neighbor_pairs(
            edges, min_common=1, max_center_degree=None
        ).collect()
    }
    capped = {
        (r.node_a, r.node_b): r.n_common
        for r in jaccard_neighbor_pairs(
            edges, min_common=1, max_center_degree=20
        ).collect()
    }
    assert capped, "cap of 20 should keep some centers on the smoke graph"
    assert set(capped) <= set(full)
    assert len(capped) < len(full), "smoke graph has deg>20 hubs; cap must bite"
    for pair, n in capped.items():
        assert n <= full[pair]


def test_mix_temperature_flattens_the_head(spark, sf_oracle):
    """alpha=0.5 sampling must upweight tail domains: every non-head
    language's share of the SAMPLE exceeds its share of the corpus,
    and the head language's share shrinks."""
    from vector_ai_npm_spark import registry
    from vector_ai_npm_spark.io.sources import load_table

    corpus = {
        r.lang: r.n
        for r in load_table(spark, sf_oracle, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sample = {}
    for r in registry.run("curate_mix_temperature", spark, sf_oracle).collect():
        sample[r.lang] = sample.get(r.lang, 0) + 1
    n_c, n_s = sum(corpus.values()), sum(sample.values())
    head = max(corpus, key=corpus.get)
    assert sample[head] / n_s < corpus[head] / n_c
    for lang in corpus:
        if lang != head:
            assert sample[lang] / n_s > corpus[lang] / n_c, lang


def test_two_level_ntile_equals_builtin_on_random_frames(spark):
    """Property pin for the two-level exact ntile: on randomized frames
    (duplicates, skew, negative values, n < n_tiles, all-equal) the
    decomposition must equal F.ntile over a global window, row for row.
    Spark-roundtrip-per-example is slow, so a handful of seeded shapes
    stand in for a full hypothesis sweep."""
    import random

    from pyspark.sql import Window

    from vector_ai_npm_spark.operators.analytics_ops import _ntile_two_level

    rng = random.Random(42)
    shapes = [
        [(i, float(i)) for i in range(7)],                       # n < bins
        [(i, 1.0) for i in range(25)],                           # all equal
        [(i, float(rng.randint(-50, 50))) for i in range(200)],  # dup-heavy
        [(i, rng.gauss(0, 1e6)) for i in range(300)],            # wide spread
        [(i, float(i % 3)) for i in range(4)],                   # n < n_tiles? 4<5
    ]
    for rows in shapes:
        df = spark.createDataFrame(rows, "id long, m double")
        for descending in (False, True):
            got = {
                r.id: r.q
                for r in _ntile_two_level(
                    df, "q", "m", descending, tiebreak="id"
                ).collect()
            }
            order = [
                F.col("m").desc() if descending else F.col("m").asc(),
                F.col("id").asc(),
            ]
            want = {
                r.id: r.q
                for r in df.withColumn(
                    "q", F.ntile(5).over(Window.orderBy(*order)).cast("long")
                ).collect()
            }
            assert got == want, (descending, len(rows))


def test_edge_build_equals_naive_self_join(spark, sf_smoke):
    """The grouped-basket inline pair expansion must produce exactly the
    distinct + self-join-on-order formulation's edges and weights (the
    rewrite traded a shuffle, not semantics)."""
    from vector_ai_npm_spark.io.sources import load_table

    got = {
        (r.src, r.dst): r.w
        for r in copurchase_edges(spark, sf_smoke).collect()
    }
    items = (
        load_table(spark, sf_smoke, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    want = {
        (r.src, r.dst): r.w
        for r in a.join(
            b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
        )
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .collect()
    }
    assert got == want


def test_edge_cache_evicts_prior_application(spark, sf_smoke):
    """The derived-frame caches (graph edges, symmetric edges, the kNN
    graph) are keyed by applicationId: an entry left behind by a PRIOR
    application must be evicted (unpersist attempted, key dropped) the
    next time a live session asks — the staleness contract documented on
    session.FrameCache (r13 verdict item 8)."""
    import os

    from vector_ai_npm_spark.operators import graph_ops
    from vector_ai_npm_spark.retrieval import knn_graph

    caches = {
        "edge": graph_ops._EDGE_CACHE,
        "sym": graph_ops._SYM_CACHE,
        "knn": knn_graph._GRAPH_CACHE,
    }
    dead = {}
    stale_key = ("application_from_a_previous_life", "/nowhere/sfX")
    for name, cache in caches.items():
        class _DeadFrame:
            unpersisted = False

            def unpersist(self, blocking=False):
                type(self).unpersisted = True

        dead[name] = _DeadFrame
        with cache.lock:
            cache.frames[stale_key] = _DeadFrame()

    live = graph_ops.copurchase_edges(spark, sf_smoke)
    graph_ops._pagerank_sym_cached(spark, sf_smoke)
    _, graph, _ = knn_graph._fixture_graph_and_queries(spark, sf_smoke)
    for name, cache in caches.items():
        assert stale_key not in cache.frames, name
        assert dead[name].unpersisted, name

    # key normalization: a trailing slash / relative respelling of the
    # same fixture dir must hit the SAME persisted frame, not a new one
    assert graph_ops.copurchase_edges(spark, sf_smoke + "/") is live
    rel = os.path.relpath(sf_smoke)
    assert graph_ops.copurchase_edges(spark, rel) is live
    _, again, _ = knn_graph._fixture_graph_and_queries(spark, sf_smoke + "/")
    assert again is graph


def test_frame_cache_builds_once_under_concurrent_first_calls():
    """Racing first calls for one key (through different spellings of
    the same dir) build once and all get the same frame."""
    import sys
    import threading
    import time
    from types import SimpleNamespace

    from vector_ai_npm_spark.session import FrameCache

    cache = FrameCache()
    fake_spark = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-stress")
    )
    builds = []

    def build():
        builds.append(1)
        time.sleep(0.01)  # widen the check-then-build window
        return object()

    got = []
    spellings = ["/tmp/sfX", "/tmp/sfX/", "/tmp/./sfX"]
    threads = [
        threading.Thread(
            target=lambda i=i: got.append(
                cache.get(fake_spark, spellings[i % 3], build)
            )
        )
        for i in range(16)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 16 and len({id(f) for f in got}) == 1
    assert len(builds) == 1
