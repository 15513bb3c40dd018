"""The fixpoint loops (operators/fixpoint.py): the materializing count,
frontier expansion against a driver-side BFS, and the label-type guard."""

from __future__ import annotations

from collections import deque

import pytest
from pyspark.sql import functions as F


def _lazy_frame(spark):
    return (
        spark.range(0, 500)
        .select((F.col("id") % 97).alias("k"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def test_materialize_count_equals_count_on_lazy_checkpoint(spark):
    from vector_ai_npm_spark.operators.fixpoint import materialize_count

    df = _lazy_frame(spark)
    assert materialize_count(df) == df.count() == 97


def test_materialize_count_falls_back_to_count(spark, monkeypatch):
    """With the internal row-RDD handle unavailable, the count comes from
    DataFrame.count() and is the same."""
    from vector_ai_npm_spark.operators.fixpoint import materialize_count

    df = _lazy_frame(spark)

    class _NoQueryExecution:
        def __init__(self, jdf):
            self._real = jdf

        def queryExecution(self):
            raise RuntimeError("internal handle unavailable")

        def __getattr__(self, name):
            return getattr(self._real, name)

    monkeypatch.setattr(df, "_jdf", _NoQueryExecution(df._jdf))
    with pytest.raises(RuntimeError):
        df._jdf.queryExecution()
    assert materialize_count(df) == 97


def _py_bfs(adj, sources, max_rounds):
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        if dist[u] == max_rounds:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


# two components: a 5-node path 0-1-2-3-4 with a branch 2-5, and a
# triangle 10-11-12.  From {0, 10} the frontier dies after 4 hops, well
# inside the round cap.
_EDGES = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 5), (10, 11), (11, 12), (10, 12)]
_CAP = 8


def _sym(spark):
    both = _EDGES + [(b, a) for a, b in _EDGES]
    return spark.createDataFrame(both, "node long, nbr long")


def _adj():
    adj: dict[int, set[int]] = {}
    for a, b in _EDGES:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def _expand_counting_frontiers(spark, seeds, key=()):
    """(rows of fixpoint.expand, the frontier count of every round)."""
    from vector_ai_npm_spark.operators import fixpoint

    counts = []
    real = fixpoint.materialize_count

    def counting(df):
        counts.append(real(df))
        return counts[-1]

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fixpoint, "materialize_count", counting)
        rows = fixpoint.expand(_sym(spark), seeds, _CAP, key=key).collect()
    return rows, counts


def test_expand_matches_driver_bfs_and_stops_on_empty_frontier(spark):
    seeds = spark.createDataFrame([(0,), (10,)], "node long").select(
        "node", F.lit(0).alias("dist")
    )
    rows, counts = _expand_counting_frontiers(spark, seeds)
    got = {r.node: r.dist for r in rows}
    assert got == _py_bfs(_adj(), [0, 10], _CAP)
    assert max(got.values()) == 4
    # rounds 1-4 find new nodes, round 5 finds none and ends the loop
    assert counts == [3, 1, 2, 1, 0]


def test_expand_keyed_matches_per_source_driver_bfs(spark):
    sources = [0, 4, 11]
    seeds = spark.createDataFrame([(s,) for s in sources], "src long").select(
        "src", F.col("src").alias("node"), F.lit(0).alias("dist")
    )
    rows, counts = _expand_counting_frontiers(spark, seeds, key=("src",))
    want = {
        (s, v): d
        for s in sources
        for v, d in _py_bfs(_adj(), [s], _CAP).items()
    }
    assert {(r.src, r.node): r.dist for r in rows} == want
    # the deepest searches (from 0 and 4) are 4 hops; the 5th round's
    # empty frontier ends the loop, well before the cap
    assert counts == [4, 2, 4, 2, 0]


def test_min_labels_rejects_string_ids_before_any_job(spark):
    """A string id column cannot be min-propagated or label-summed
    exactly; the guard raises before any Spark job runs."""
    from vector_ai_npm_spark.engine import VectorEngine

    n = 40
    pairs = spark.createDataFrame(
        [(f"d{i}", f"d{i + 1}") for i in range(n)], "doc_id_a string, doc_id_b string"
    )
    docs = spark.createDataFrame([(f"d{i}",) for i in range(n + 1)], "doc_id string")
    eng = VectorEngine(spark)
    sc = spark.sparkContext
    group = "min-labels-string-guard"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(TypeError, match="integral"):
            eng.dedup_clusters(docs, pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_min_labels_rejects_string_labels(spark):
    from vector_ai_npm_spark.operators.fixpoint import min_labels

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    labels = spark.createDataFrame([(1, "1"), (2, "2")], "node long, label string")
    with pytest.raises(TypeError, match="label"):
        min_labels(edges, labels, 5)
