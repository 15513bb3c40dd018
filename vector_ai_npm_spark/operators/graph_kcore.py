"""k-core decomposition (wave 3) over the co-purchase graph.

The k-core is the maximal subgraph in which every node has degree ≥ k —
the standard dense-substructure extractor (Seidman 1983; Batagelj-
Zaveršnik peeling): spam-ring detection, community nuclei, and the
degeneracy-ordering input for faster triangle/clique algorithms.

Distributed formulation: synchronous PEELING — each round drops every
node whose degree in the SURVIVING subgraph is < k, until a fixpoint.
Per round: one degree aggregate (node-keyed) + two semi joins restricting
the edge list to surviving endpoints.  The alive frontier shrinks
monotonically, so round cost is bounded by the current subgraph, and the
round count is bounded by the peel depth (≤ the graph's degeneracy
chain, 5 at the largest fixture; real graphs converge in tens of rounds
— each round is one Spark job, NOT one job per node as sequential
peeling would be).

Fixed-unroll discipline (the graph_pagerank / recursive-CTE decision):
the registry face declares ``_ROUNDS = 6`` peel rounds — the count the
DuckDB oracle unrolls, strictly more than any fixture needs (measured
fixpoint depth: 0 / 3 / 5 rounds at sf0.001 / 0.01 / 0.1) — and
tests/test_wave7.py (test_kcore_fixpoint_reached) proves round R−1 ≡
round R on real fixtures, so the unrolled answer IS the exact k-core.
The loop is ``operators.fixpoint.peel``: rounds are checkpointed and
stop at the fixpoint, with the witness and the proof that the early
stop is bit-identical kept there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.operators.fixpoint import peel
from vector_ai_npm_spark.operators.graph_ops import (
    _O_EDGES,
    _pagerank_sym_cached,
)
from vector_ai_npm_spark.registry import query

_K = 2        # repeat-co-purchase graph is sparse (median degree 1-3 at
# sf0.1); the 2-core strips the tree-like fringe while keeping a
# non-trivial core at every fixture scale (1535/1880 nodes at sf0.01)
_ROUNDS = 6   # > measured fixpoint depth at every fixture sf (max 5)


def _o_kcore_sql(k: int, rounds: int) -> str:
    """Unrolled DuckDB peeling: e{r} → d{r} → a{r} → e{r+1}."""
    # MATERIALIZED: DuckDB inlines CTEs by default, and e{r+1}
    # references e{r} three times (directly + via d{r}/a{r}) — inlined,
    # the unrolled peel expands 3^rounds times (measured 113 s at
    # sf0.01); materialized, it is one pass per round (<1 s)
    ctes = ["e0 AS MATERIALIZED (SELECT node, nbr FROM sym)"]
    for r in range(rounds):
        ctes.append(
            f"d{r} AS MATERIALIZED "
            f"(SELECT node, COUNT(*) AS c FROM e{r} GROUP BY node)"
        )
        ctes.append(f"a{r} AS (SELECT node FROM d{r} WHERE c >= {k})")
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT e.node, e.nbr FROM e{r} e "
            f"SEMI JOIN a{r} x ON e.node = x.node "
            f"SEMI JOIN a{r} y ON e.nbr = y.node)"
        )
    ctes.append(
        f"d{rounds} AS (SELECT node, COUNT(*) AS c "
        f"FROM e{rounds} GROUP BY node)"
    )
    return (
        f"WITH {_O_EDGES}, {', '.join(ctes)} "
        f"SELECT node, CAST(c AS BIGINT) AS core_deg "
        f"FROM d{rounds} WHERE c >= {k}"
    )


def kcore(spark: SparkSession, sf_dir: str, k: int = _K,
          rounds: int = _ROUNDS) -> DataFrame:
    """(node, core_deg) for every node of the k-core after ``rounds``
    synchronous peel rounds (exact k-core once fixpoint is reached —
    pinned on fixtures by tests/test_wave7.py)."""

    def drop_light(edges: DataFrame) -> DataFrame:
        deg = edges.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
        alive = deg.where(F.col("c") >= k).select("node").localCheckpoint()
        return (
            edges.join(alive, "node", "left_semi")
            .join(
                alive.withColumnRenamed("node", "nbr"), "nbr", "left_semi"
            )
            .select("node", "nbr")
        )

    edges = peel(_pagerank_sym_cached(spark, sf_dir), drop_light, rounds)
    return (
        edges.groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .where(F.col("core_deg") >= k)
    )


@query("graph_kcore", oracle=_o_kcore_sql(_K, _ROUNDS))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph suite: the 2-core of the co-purchase graph (node +
    within-core degree) via synchronous distributed peeling — see
    module docstring for the shape and the fixed-unroll justification."""
    return kcore(spark, sf_dir)
