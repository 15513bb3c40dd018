"""k-truss decomposition: the edge-cohesion step past k-core.

`graph_ktruss` — the 3-truss of the co-purchase graph: maximal
subgraph where every EDGE closes ≥ k−2 triangles (Cohen 2008).
k-core bounds node degree; k-truss bounds edge embeddedness, the
standard next notch of community cohesion (a k-truss is always a
subgraph of the (k−1)-core).  Peeling alternates per-edge triangle
support with a support filter to fixpoint.

Scale shape: each truss round is ONE degree-oriented triangle pass
(compact-forward wedges, fan-out O(√m) per node — the
graph_triangles machinery reused on the shrinking edge set) + one
edge-keyed aggregate.  The loop is ``operators.fixpoint.peel`` (support
filtering only removes edges), which checkpoints each round and stops at
the fixpoint.  Fixed-unroll discipline (graph_kcore's): _ROUNDS=3 > the
measured fixpoint depth 2 at every fixture sf, and the final support
pass is emitted so the answer carries per-edge embeddedness, not just
membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.operators.fixpoint import peel
from vector_ai_npm_spark.operators.graph_ops import (
    _O_EDGES,
    _degree_oriented_wedges,
    copurchase_edges,
)
from vector_ai_npm_spark.registry import query


_K = 3
_ROUNDS = 3  # > measured fixpoint depth (2 at sf0.001/0.01/0.1)


def edge_support(edges: DataFrame) -> DataFrame:
    """(lo, hi, support): per-canonical-edge triangle participation.

    Triangles enumerate once each via the degree-oriented wedge+close
    join (graph_ops._degree_oriented_wedges); each (x, y, z) then
    credits its three id-canonicalized edges — orientation affects the
    enumeration order only, never the support totals."""
    wedges, oriented = _degree_oriented_wedges(edges)
    closing = oriented.select(
        F.col("lo").alias("c_lo"), F.col("hi").alias("c_hi")
    )
    tri = wedges.join(
        closing,
        (F.col("a.hi") == F.col("c_lo")) & (F.col("b.hi") == F.col("c_hi")),
    ).select(
        F.col("a.lo").alias("x"),
        F.col("a.hi").alias("y"),
        F.col("b.hi").alias("z"),
    )
    legs = tri.select(
        F.least("x", "y").alias("lo"), F.greatest("x", "y").alias("hi")
    ).unionAll(
        tri.select(F.least("x", "z").alias("lo"), F.greatest("x", "z").alias("hi"))
    ).unionAll(
        tri.select(F.least("y", "z").alias("lo"), F.greatest("y", "z").alias("hi"))
    )
    return legs.groupBy("lo", "hi").agg(F.count(F.lit(1)).alias("support"))


def ktruss_edges(edges: DataFrame, k: int = _K,
                 rounds: int = _ROUNDS) -> DataFrame:
    """(src, dst, support) of the k-truss after up to ``rounds`` peel
    rounds (stopping early at the fixpoint), support computed in the
    FINAL subgraph."""

    def drop_weak(e: DataFrame) -> DataFrame:
        return edge_support(e).where(F.col("support") >= k - 2).select(
            F.col("lo").alias("src"), F.col("hi").alias("dst")
        )

    # checkpointed input: the wedge joins pick broadcasts from size
    # stats, which a persisted (in-memory) input frame does not expose
    e = peel(edges.select("src", "dst").localCheckpoint(), drop_weak, rounds)
    return (
        edge_support(e)
        .where(F.col("support") >= k - 2)
        .select(
            F.col("lo").alias("src"),
            F.col("hi").alias("dst"),
            F.col("support").cast("long").alias("support"),
        )
    )


def _o_ktruss_sql(k: int, rounds: int) -> str:
    """Unrolled DuckDB peeling.  MATERIALIZED throughout: each round's
    edge set feeds the next round's three triangle-join legs — inlined
    CTEs would re-derive the whole peel per leg (the graph_kcore
    oracle's lesson)."""
    parts = [f"WITH {_O_EDGES},",
             "e0 AS MATERIALIZED (SELECT src, dst FROM edges)"]
    r = 0
    for r in range(rounds + 1):
        parts.append(f"""
    t{r} AS MATERIALIZED (
      SELECT x1.src AS a, x1.dst AS b, x2.dst AS c
      FROM e{r} x1
      JOIN e{r} x2 ON x2.src = x1.dst
      JOIN e{r} x3 ON x3.src = x1.src AND x3.dst = x2.dst
    ),
    s{r} AS MATERIALIZED (
      SELECT lo, hi, COUNT(*) AS sup FROM (
        SELECT a AS lo, b AS hi FROM t{r}
        UNION ALL SELECT a, c FROM t{r}
        UNION ALL SELECT b, c FROM t{r}
      ) GROUP BY lo, hi
    )""")
        if r < rounds:
            parts.append(
                f"""
    e{r + 1} AS MATERIALIZED (
      SELECT lo AS src, hi AS dst FROM s{r} WHERE sup >= {k - 2}
    )"""
            )
    body = ",".join(parts[1:])
    return (
        parts[0] + body
        + f"""
    SELECT lo AS src, hi AS dst, CAST(sup AS BIGINT) AS support
    FROM s{r} WHERE sup >= {k - 2}
    """
    )


@query("graph_ktruss", oracle=_o_ktruss_sql(_K, _ROUNDS))
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the repeat-co-purchase graph — see the notes above.
    Output: every surviving edge with its fixpoint triangle support
    (2244 / 181 / 3 edges at sf0.001 / 0.01 / 0.1 — truss peeling is
    sharp on sparse graphs, which is the point of the metric)."""
    return ktruss_edges(copurchase_edges(spark, sf_dir).select("src", "dst"))
