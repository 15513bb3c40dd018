"""Property-based validation of the iterative connected-components
operator (dedup.components) against a driver-side union-find reference
on random graphs — the fixture only exercises near-clique components;
random graphs cover chains, stars, and forests."""

from __future__ import annotations

import random

import pytest


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min vertex in component
    out: dict[int, int] = {}
    for v in list(parent):
        root = find(v)
        out[v] = root
    # normalize: root chosen by union order may not be the min — walk again
    comp_min: dict[int, int] = {}
    for v, r in out.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[r] for v, r in out.items()}


@pytest.mark.parametrize("seed", [1, 7, 42])
@pytest.mark.parametrize("shape", ["chain", "random", "stars"])
def test_components_match_union_find(spark, seed, shape):
    from vector_ai_npm_spark.dedup.components import connected_components

    rng = random.Random(seed)
    if shape == "chain":
        # worst case for min-label propagation: diameter = n
        n = 24
        edges = [(i, i + 1) for i in range(n)]
    elif shape == "stars":
        edges = [(hub, hub * 100 + i) for hub in (1, 2, 3) for i in range(1, 8)]
    else:
        verts = list(range(60))
        edges = [
            (rng.choice(verts), rng.choice(verts)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
    expect = _union_find_components(edges)

    pairs = spark.createDataFrame(edges, ["doc_id_a", "doc_id_b"])
    got = {
        r.doc_id: r.component_id
        for r in connected_components(pairs, max_iter=40).collect()
    }
    assert got == expect, (shape, seed)


def test_long_chain_converges_in_log_rounds(spark):
    """Pointer jumping: a 128-link chain must converge within ~log2(n)
    rounds (12 here), where plain neighbor-min propagation would need
    128 — this pins the O(log n) guarantee, not just correctness."""
    from vector_ai_npm_spark.dedup.components import connected_components

    n = 128
    edges = [(i, i + 1) for i in range(n)]
    pairs = spark.createDataFrame(edges, ["doc_id_a", "doc_id_b"])
    got = {
        r.doc_id: r.component_id
        for r in connected_components(pairs, max_iter=12).collect()
    }
    assert got == {v: 0 for v in range(n + 1)}


def test_round_cap_raises_instead_of_returning_unconverged_labels(spark):
    """Three rounds cannot close a 128-link chain: the loop must raise,
    not hand back labels that are still propagating."""
    from vector_ai_npm_spark.dedup.components import connected_components

    n = 128
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_id_a", "doc_id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        connected_components(pairs, max_iter=3).collect()
