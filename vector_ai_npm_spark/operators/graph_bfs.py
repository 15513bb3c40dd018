"""Frontier BFS over the co-purchase graph: distance-to-hub labels and
sampled harmonic centrality.

`graph_bfs_frontier` (wave 9) computes hop distance (≤ 3) from the
top-5 highest-degree hub products to every reachable node — the
"distance-to-hub" feature used for graph-position features, influence
radii, and seed-expansion labeling.  Together with pagerank (global
importance), k-core (density), LPA (community) and triangles (local
clustering) this completes the classic node-feature suite.

`graph_harmonic_sampled` — per-node harmonic centrality estimated
from k sampled sources (Boldi-Vigna 2014: h(v) = Σ_s 1/d(s, v), the
centrality that handles disconnected pairs gracefully — an
unreachable source simply contributes 0, where sampled CLOSENESS
would divide by a meaningless sum).  Completes the centrality family
(degree / PageRank / HITS / k-core / clustering coefficient) with the
distance-based member, computed the only way distance centralities
scale: multi-source frontier BFS from a dim-sized sample, never
all-pairs shortest paths.

Distributed formulation: synchronous FRONTIER expansion (the Pregel/
GraphX BFS), ``operators.fixpoint.expand``:

    dist₀ = seeds × {0};  frontier₀ = dist₀
    frontierᵣ₊₁ = (frontierᵣ ⋈ edges).nbr  ∖  distᵣ      (anti join)
    distᵣ₊₁    = distᵣ ∪ (frontierᵣ₊₁ × {r+1})

Per round: ONE node-keyed join of the current frontier against the edge
list + one anti join against the visited set — cost proportional to the
frontier's edge neighborhood, never to the whole graph re-walked.  The
naive alternative (re-aggregating min-dist over all discovered paths
each round) rescans every prior level per round; the frontier form is
the textbook delta iteration.  Harmonic runs one search per source side
by side, keyed by (src, node), so a round costs k× the single-source
join.  Rounds are checkpointed and stop once the frontier is empty; the
witness and its proof live in fixpoint.py.

Fixed-unroll discipline (graph_pagerank/kcore decision): 3 rounds
declared and oracle-unrolled; the oracles mirror the same frontier
construction with MATERIALIZED CTEs (DuckDB re-inlines each reference
otherwise — the kcore 3^R lesson).

Seeds are data-derived but dim-sized: the degree aggregate is
node-keyed (one shuffle) and top-5 is a TakeOrdered — no global sort.

Harmonic exactness: with d ∈ 1..3 every reciprocal clears through
lcm(1..3) = 6: h_num = Σ_s (6 / d(s,v)) is an exact int64 and
h_den = 6·k — the retrieval_eval_map lcm idiom applied to graph
distances.  Top-50 nodes by (h_num, node) keeps output bounded; the
harmonic fold is a node-keyed aggregate over the ≤ k·|reached|
distance frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.operators.fixpoint import expand
from vector_ai_npm_spark.operators.graph_ops import (
    _O_EDGES,
    _pagerank_sym_cached,
)
from vector_ai_npm_spark.registry import query

_N_SEEDS = 5
_ROUNDS = 3
_LCM = 6  # lcm(1..3)
_TOP_N = 50


def _o_frontier_ctes(rounds: int, keyed: bool) -> list[str]:
    """Unrolled DuckDB frontier rounds n{r} → f{r} → d{r} over e0,
    starting from f0/d0; ``keyed`` carries a per-source src column."""
    k, fk, nk = ("src, ", "f.src, ", "n.src, ") if keyed else ("", "", "")
    on = "d.src = n.src AND d.node = n.node" if keyed else "n.node = d.node"
    ctes = []
    for r in range(1, rounds + 1):
        ctes.append(
            f"n{r} AS MATERIALIZED (SELECT DISTINCT {fk}e.nbr AS node "
            f"FROM f{r - 1} f JOIN e0 e ON e.node = f.node)"
        )
        ctes.append(
            f"f{r} AS MATERIALIZED (SELECT {nk}n.node "
            f"FROM n{r} n ANTI JOIN d{r - 1} d ON {on})"
        )
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT {k}node, dist FROM d{r - 1} "
            f"UNION ALL SELECT {k}node, {r} AS dist FROM f{r})"
        )
    return ctes


def _o_bfs_sql(n_seeds: int, rounds: int) -> str:
    ctes = [
        "e0 AS MATERIALIZED (SELECT node, nbr FROM sym)",
        "deg AS MATERIALIZED "
        "(SELECT node, COUNT(*) AS c FROM e0 GROUP BY node)",
        f"d0 AS MATERIALIZED (SELECT node, 0 AS dist FROM "
        f"(SELECT node FROM deg ORDER BY c DESC, node LIMIT {n_seeds}))",
        "f0 AS MATERIALIZED (SELECT node FROM d0)",
        *_o_frontier_ctes(rounds, keyed=False),
    ]
    return (
        f"WITH {_O_EDGES}, {', '.join(ctes)} "
        f"SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}"
    )


def _o_harmonic_sql() -> str:
    ctes = [
        "e0 AS MATERIALIZED (SELECT node, nbr FROM sym)",
        "deg AS MATERIALIZED "
        "(SELECT node, COUNT(*) AS c FROM e0 GROUP BY node)",
        f"s0 AS MATERIALIZED (SELECT node AS src FROM "
        f"(SELECT node FROM deg ORDER BY c DESC, node "
        f"LIMIT {_N_SEEDS}))",
        "d0 AS MATERIALIZED (SELECT src, src AS node, 0 AS dist FROM s0)",
        "f0 AS MATERIALIZED (SELECT src, node FROM d0)",
        *_o_frontier_ctes(_ROUNDS, keyed=True),
    ]
    return f"""
    WITH {_O_EDGES}, {", ".join(ctes)},
    folded AS (
      SELECT node,
             CAST(COUNT(*) AS BIGINT) AS n_sources_reached,
             CAST(SUM({_LCM} // dist) AS BIGINT) AS h_num
      FROM d{_ROUNDS} WHERE dist > 0 GROUP BY node
    ),
    ranked AS (
      SELECT node, n_sources_reached, h_num,
             ROW_NUMBER() OVER (ORDER BY h_num DESC, node) AS rnk
      FROM folded
    )
    SELECT node, n_sources_reached, h_num,
           CAST({_LCM * _N_SEEDS} AS BIGINT) AS h_den,
           CAST(h_num AS DOUBLE) / {_LCM * _N_SEEDS} AS harmonic
    FROM ranked WHERE rnk <= {_TOP_N}
    """


def _hubs(sym: DataFrame) -> DataFrame:
    """(node) of the _N_SEEDS highest-degree nodes, ties by node id."""
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
    return deg.orderBy(F.desc("c"), F.asc("node")).limit(_N_SEEDS)


@query("graph_bfs_frontier", oracle=_o_bfs_sql(_N_SEEDS, _ROUNDS))
def graph_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance (0–3) from the 5 highest-degree hubs — synchronous
    frontier BFS; see module docstring for the per-round shape."""
    sym = _pagerank_sym_cached(spark, sf_dir).select("node", "nbr")
    seeds = _hubs(sym).select("node", F.lit(0).alias("dist"))
    dist = expand(sym, seeds, _ROUNDS)
    return dist.select("node", F.col("dist").cast("bigint").alias("dist"))


@query("graph_harmonic_sampled", oracle=_o_harmonic_sql())
def graph_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality — see the notes above.  Sources'
    own rows (dist 0) are excluded from their harmonic sums in both
    engines (WHERE dist > 0)."""
    sym = _pagerank_sym_cached(spark, sf_dir).select("node", "nbr")
    seeds = _hubs(sym).select(
        F.col("node").alias("src"), "node", F.lit(0).alias("dist")
    )
    dist = expand(sym, seeds, _ROUNDS, key=("src",))
    folded = (
        dist.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources_reached"),
            F.sum(F.expr(f"{_LCM} div dist")).cast("bigint").alias("h_num"),
        )
    )
    top = folded.orderBy(F.desc("h_num"), F.asc("node")).limit(_TOP_N)
    return top.select(
        "node", "n_sources_reached", "h_num",
        F.lit(_LCM * _N_SEEDS).cast("bigint").alias("h_den"),
        (F.col("h_num").cast("double") / F.lit(float(_LCM * _N_SEEDS))).alias(
            "harmonic"
        ),
    )
