"""Wave-27: recall curve and activity audit references."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import functions as F

from vector_ai_npm_spark import registry
from vector_ai_npm_spark.io.sources import load_table


def test_recall_curve_levels_and_full_probe_identity(spark, sf_oracle):
    """Beyond the driver contract: compute the actual per-level recall
    numbers and assert the curve is monotone with full-probe == 1.0
    (and the lowest level strictly prunes on this fixture)."""
    from vector_ai_npm_spark.retrieval.queries import (
        _K,
        _NLIST,
        _PROBES,
        _QUERY_IDS,
    )
    from vector_ai_npm_spark.retrieval.ivf import ivf_similarity_join

    emb = load_table(spark, sf_oracle, "embeddings")
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    import math

    vecs = {
        r.vec_id: [float(v) for v in r.embedding]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    exact = {}
    for q in _QUERY_IDS:
        qv = vecs[q]
        ranked = sorted(
            vecs, key=lambda v: (-cos(vecs[v], qv), v)
        )[:_K]
        exact[q] = set(ranked)
    hits_per_level = []
    for p in _PROBES:
        hits = ivf_similarity_join(
            queries, emb, k=_K, nlist=_NLIST, nprobe=p
        ).select("q_vec_id", "vec_id").collect()
        n = sum(1 for r in hits if r.vec_id in exact[r.q_vec_id])
        hits_per_level.append(n)
    assert hits_per_level == sorted(hits_per_level)  # monotone
    assert hits_per_level[-1] == _K * len(_QUERY_IDS)  # full probe exact
    got = registry.run("vector_recall_curve", spark, sf_oracle).collect()[0]
    assert got.monotone_ok and got.full_probe_num == got.full_probe_den


def test_activity_audit_matches_counter_reference(spark, sf_oracle):
    ev = load_table(spark, sf_oracle, "events")
    n = Counter()
    days = defaultdict(set)
    night = Counter()
    per_min = Counter()
    for r in ev.select("user_id", "ts").collect():
        n[r.user_id] += 1
        days[r.user_id].add(r.ts.date())
        if r.ts.hour < 6:
            night[r.user_id] += 1
        per_min[(r.user_id, r.ts.replace(second=0, microsecond=0))] += 1
    peak = Counter()
    for (u, _), c in per_min.items():
        peak[u] = max(peak[u], c)
    order = sorted(n, key=lambda u: (-n[u], u))[:50]
    got = registry.run(
        "events_user_activity_audit", spark, sf_oracle
    ).collect()
    assert [r.user_id for r in got] == order == sorted(
        (r.user_id for r in got),
        key=lambda u: (-n[u], u),
    )
    for r in got:
        u = r.user_id
        assert (r.n_events, r.n_days, r.night_events, r.max_per_minute) == (
            n[u], len(days[u]), night[u], peak[u],
        )
        assert r.events_per_day == n[u] / len(days[u])
        assert r.night_share == night[u] / n[u]
