"""Wave 68: distributed SCC vs driver-side Tarjan on adversarial digraphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _tarjan(n_nodes, edge_list):
    """Reference SCC (iterative Tarjan); returns {node: min-id-of-scc}."""
    adj = {v: [] for v in range(n_nodes)}
    for s, d in edge_list:
        adj[s].append(d)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    sccs = []
    counter = [0]

    def strongconnect(root):
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])

    for v in range(n_nodes):
        if v not in index:
            strongconnect(v)
    out = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


def _run_scc(spark, n, edge_list, **kw):
    from vector_ai_npm_spark.operators.graph_scc import scc_colored

    nodes = spark.createDataFrame([(i,) for i in range(n)], "node_id long")
    edges = (
        spark.createDataFrame(edge_list, "src long, dst long")
        if edge_list
        else spark.createDataFrame([], "src long, dst long")
    )
    got = {
        r.node_id: r.scc_id
        for r in scc_colored(nodes, edges, **kw).collect()
    }
    return got


def test_scc_matches_tarjan_on_random_digraph(spark):
    import random

    rng = random.Random(7)
    n = 60
    edges = list({
        (rng.randrange(n), rng.randrange(n)) for _ in range(150)
    })
    assert _run_scc(spark, n, edges) == _tarjan(n, edges)


def test_scc_nested_cycles_and_bridges(spark):
    # two 4-cycles joined one-way, a 2-cycle, a self-loop, an isolate
    edges = [
        (0, 1), (1, 2), (2, 3), (3, 0),      # scc {0,1,2,3}
        (3, 4),                               # one-way bridge
        (4, 5), (5, 6), (6, 7), (7, 4),      # scc {4,5,6,7}
        (8, 9), (9, 8),                       # scc {8,9}
        (10, 10),                             # self-loop singleton
    ]
    got = _run_scc(spark, 12, edges)
    assert got == _tarjan(12, edges)
    assert got[0] == got[3] == 0
    assert got[4] == got[7] == 4
    assert got[8] == got[9] == 8
    assert got[10] == 10 and got[11] == 11


def test_scc_reverse_path_peels_in_phases(spark):
    """n → n-1 → ... → 0: every node its own SCC, colors collapse to 0
    each phase so only one head confirms per phase — the peel loop, not
    the coloring, does the work here."""
    n = 6
    edges = [(i, i - 1) for i in range(1, n)]
    got = _run_scc(spark, n, edges, max_phases=n + 1)
    assert got == {i: i for i in range(n)}


def test_scc_phase_budget_raises_loudly(spark):
    n = 6
    edges = [(i, i - 1) for i in range(1, n)]
    with pytest.raises(RuntimeError, match="phases"):
        _run_scc(spark, n, edges, max_phases=2)


def test_graph_scc_face_parity(spark, sf_smoke):
    from tests.oracle_harness import compare
    from vector_ai_npm_spark.registry import all_oracles

    problems = compare(
        spark, "graph_scc", all_oracles()["graph_scc"], sf_smoke
    )
    assert not problems, problems


def test_scc_partial_tail_group_decomposes_to_singletons(spark):
    """Non-multiple-of-10 node populations: the tail group's wrap edge
    targets a nonexistent node, is dropped by the live-node join, and
    the tail decomposes into singletons — the oracle's CASE arm."""
    from vector_ai_npm_spark.operators.graph_scc import scc_colored

    n = 23  # two full 10-cycles + a 3-node tail path
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node_id long")
    grp = lambda r: r - r % 10
    edges = spark.createDataFrame(
        [(r, grp(r) + (r % 10 + 1) % 10) for r in range(n)],
        "src long, dst long",
    )
    got = {r.node_id: r.scc_id for r in scc_colored(nodes, edges).collect()}
    for r in range(20):
        assert got[r] == grp(r)
    for r in (20, 21, 22):
        assert got[r] == r
