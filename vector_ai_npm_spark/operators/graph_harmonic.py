"""Sampled harmonic centrality over the co-purchase graph.

`graph_harmonic_sampled` — per-node harmonic centrality estimated
from k sampled sources (Boldi-Vigna 2014: h(v) = Σ_s 1/d(s, v), the
centrality that handles disconnected pairs gracefully — an
unreachable source simply contributes 0, where sampled CLOSENESS
would divide by a meaningless sum).  Completes the centrality family
(degree / PageRank / HITS / k-core / clustering coefficient) with the
distance-based member, computed the only way distance centralities
scale: multi-source frontier BFS from a dim-sized sample, never
all-pairs shortest paths.

Exactness: sources are the top-5 degree hubs (deterministic
TakeOrdered), distances come from a 3-round per-source frontier BFS
(the graph_bfs_frontier discipline with a source dimension), and with
d ∈ 1..3 every reciprocal clears through lcm(1..3) = 6:
h_num = Σ_s (6 / d(s,v)) is an exact int64 and h_den = 6·k — the
retrieval_eval_map lcm idiom applied to graph distances.  Top-50
nodes by (h_num, node) keeps output bounded.

Scale shape: per round ONE (source, node)-keyed join of the frontier
against the edge list (frontier-sized, k× the single-source cost),
localCheckpoint lineage discipline per round; the harmonic fold is a
node-keyed aggregate over the ≤ k·|reached| distance frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.operators.graph_ops import (
    _O_EDGES,
    _pagerank_sym_cached,
)
from vector_ai_npm_spark.registry import query


_K_SOURCES = 5
_ROUNDS = 3
_LCM = 6  # lcm(1..3)
_TOP_N = 50


def _o_harmonic_sql() -> str:
    ctes = [
        "e0 AS MATERIALIZED (SELECT node, nbr FROM sym)",
        "deg AS MATERIALIZED "
        "(SELECT node, COUNT(*) AS c FROM e0 GROUP BY node)",
        f"s0 AS MATERIALIZED (SELECT node AS src FROM "
        f"(SELECT node FROM deg ORDER BY c DESC, node "
        f"LIMIT {_K_SOURCES}))",
        "d0 AS MATERIALIZED (SELECT src, src AS node, 0 AS dist FROM s0)",
        "f0 AS MATERIALIZED (SELECT src, node FROM d0)",
    ]
    for r in range(1, _ROUNDS + 1):
        ctes.append(
            f"n{r} AS MATERIALIZED (SELECT DISTINCT f.src, e.nbr AS node "
            f"FROM f{r - 1} f JOIN e0 e ON e.node = f.node)"
        )
        ctes.append(
            f"f{r} AS MATERIALIZED (SELECT n.src, n.node FROM n{r} n "
            f"ANTI JOIN d{r - 1} d ON d.src = n.src AND d.node = n.node)"
        )
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT src, node, dist FROM d{r - 1} "
            f"UNION ALL SELECT src, node, {r} AS dist FROM f{r})"
        )
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
           CAST({_LCM * _K_SOURCES} AS BIGINT) AS h_den,
           CAST(h_num AS DOUBLE) / {_LCM * _K_SOURCES} AS harmonic
    FROM ranked WHERE rnk <= {_TOP_N}
    """


@query("graph_harmonic_sampled", oracle=_o_harmonic_sql())
def graph_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality — see the notes above.  Sources'
    own rows (dist 0) are excluded from their harmonic sums in both
    engines (WHERE dist > 0)."""
    sym = _pagerank_sym_cached(spark, sf_dir).select("node", "nbr")
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
    seeds = (
        deg.orderBy(F.desc("c"), F.asc("node"))
        .limit(_K_SOURCES)
        .select(F.col("node").alias("src"))
    )
    dist = seeds.select(
        "src", F.col("src").alias("node"), F.lit(0).alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist.select("src", "node").localCheckpoint(eager=True)
    for r in range(1, _ROUNDS + 1):
        neighbors = (
            frontier.join(sym, "node")
            .select("src", F.col("nbr").alias("node"))
            .distinct()
        )
        newly = neighbors.join(
            dist, ["src", "node"], "left_anti"
        ).localCheckpoint(eager=True)
        dist = dist.unionByName(
            newly.select("src", "node", F.lit(r).alias("dist"))
        ).localCheckpoint(eager=True)
        frontier = newly
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
        F.lit(_LCM * _K_SOURCES).cast("bigint").alias("h_den"),
        (F.col("h_num").cast("double") / F.lit(float(_LCM * _K_SOURCES))).alias(
            "harmonic"
        ),
    )
