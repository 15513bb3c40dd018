"""Average-neighbor-degree curve over the co-purchase graph.

`graph_knn_curve` — the k_nn(k) average-neighbor-degree curve over
the co-purchase graph (Pastor-Satorras 2001): for each degree class
k, the mean degree of the neighbors of degree-k nodes.  This is the
FUNCTIONAL face of `graph_assortativity`'s single Pearson number —
a rising curve means hubs attach to hubs (assortative), a falling
one means hubs attach to leaves (the hub-capping decision input,
read alongside the §4r hub study).  Exact: each degree-k node
contributes exactly k neighbor-degree terms, so
k_nn(k) = Σ_{deg(u)=k} Σ_{v∈N(u)} deg(v) / (k·|{u: deg(u)=k}|)
is one integer fraction per class — no per-node rational means.

Scale shape: the knn curve reuses `copurchase_edges` (two shuffles,
inline basket pair expansion) and joins the edge frame against the
|nodes|-row degree frame on node keys — never a cross product; the
degree-class fold is ≤|distinct degrees| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.operators.graph_ops import (
    _O_EDGES,
    _symmetrized,
    copurchase_edges,
)
from vector_ai_npm_spark.registry import query


@query(
    "graph_knn_curve",
    oracle=f"""
    WITH {_O_EDGES},
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS k
      FROM sym GROUP BY node
    ),
    terms AS (
      SELECT dn.k, dnbr.k AS k_nbr
      FROM sym s
      JOIN deg dn ON dn.node = s.node
      JOIN deg dnbr ON dnbr.node = s.nbr
    ),
    classes AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM deg GROUP BY k
    ),
    folds AS (
      SELECT k, CAST(SUM(k_nbr) AS BIGINT) AS sum_nbr_deg
      FROM terms GROUP BY k
    )
    SELECT c.k, c.n_nodes, f.sum_nbr_deg,
           CAST(c.k * c.n_nodes AS BIGINT) AS knn_den,
           CAST(f.sum_nbr_deg AS DOUBLE)
             / CAST(c.k * c.n_nodes AS DOUBLE) AS knn
    FROM classes c JOIN folds f ON f.k = c.k
    """,
)
def graph_knn_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k_nn(k) average-neighbor-degree curve — see the notes above.
    Edge frame ⋈ degree frame twice on node keys (the degree frame is
    |nodes|-row — broadcastable on the fixture, node-keyed shuffle at
    scale); the fold is ≤|distinct degrees| rows.  Unweighted degrees
    (edge multiplicity w is the threshold input, not a weight — the
    graph_assortativity convention)."""
    edges = copurchase_edges(spark, sf_dir)
    sym = _symmetrized(edges)
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    dn = deg.select(F.col("node"), F.col("k"))
    dnbr = deg.select(
        F.col("node").alias("nbr"), F.col("k").alias("k_nbr")
    )
    terms = sym.join(dn, "node").join(dnbr, "nbr")
    classes = deg.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    folds = terms.groupBy("k").agg(
        F.sum("k_nbr").cast("bigint").alias("sum_nbr_deg")
    )
    den = (F.col("k") * F.col("n_nodes")).cast("bigint")
    return classes.join(folds, "k").select(
        "k", "n_nodes", "sum_nbr_deg",
        den.alias("knn_den"),
        (F.col("sum_nbr_deg").cast("double") / den.cast("double")).alias(
            "knn"
        ),
    )
