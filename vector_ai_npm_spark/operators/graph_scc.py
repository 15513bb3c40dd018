"""Strongly connected components — the DIRECTED connectivity
class the graph suite was missing (components/k-core/k-truss/LPA are
all undirected; pagerank/HITS use direction but never decompose it).

Algorithm (the color-SCC scheme used by distributed SCC systems,
specialized to min-labels):

  1. COLOR: propagate color(v) = min id reachable FROM v along forward
     edges to fixpoint (≤ graph diameter equi-join rounds — the
     connected_components loop shape, dedup/components.py:38, applied
     to a directed relation).
  2. HEADS: h is a head iff color(h) = h.  For any v with color(v)=h,
     v →* h by construction.
  3. CONFIRM: mark nodes reachable FROM their own head through
     SAME-COLOR edges; marked ⇒ h →* v ⇒ mutual ⇒ SCC(h).
     (Soundness of the same-color restriction: any node w on a path
     h →* v with color(v)=h satisfies h →* w — so fwd(w) ⊆ fwd(h),
     giving color(w) ≥ h — and w →* v →* h, giving h ∈ fwd(w), so
     color(w) ≤ h; hence color(w) = h and the restricted propagation
     is complete, not just safe.)
  4. PEEL: remove found SCCs, repeat on the residual graph.  Phases
     are data-dependent (a reverse path peels one head per phase), so
     the loop is BOUNDED (max_phases) and raises loudly instead of
     spinning — same contract as the lease module: silence is the
     only wrong answer.

Oracle: the planted fixture makes SCC structure closed-form — ranked
customer ids in groups of 10 wired as 10-cycles (each group is one
SCC) with strictly ascending inter-group chords (a DAG between
groups, so no accidental merges); the oracle recomputes
scc_id = r − r % 10 and each group's size arithmetically.  Semantic
verification against driver-side Tarjan on adversarial digraphs
(random, reverse path, nested cycles) lives in tests/test_wave68.py —
the hash face pins the distributed implementation, Tarjan pins the
algorithm.

Scale shape: every round is an equi-join + groupBy-min on the edge
relation (localCheckpoint per round caps lineage); rounds = diameter,
phases = peeling depth.  No cartesian anywhere; the edge relation is
the only corpus-sized frame.

`graph_condensation` — the product SCC decomposition exists for:
contract every edge to its (scc(src), scc(dst)) pair, drop
self-pairs, and you get the condensation DAG that scheduling /
reachability / cycle-debt analyses run on.  Per-SCC row: member
count, condensation in/out degree, root/leaf flags.  On the planted
cycle-group fixture the condensation is the group chain g → g+1,
g → g+2, so every degree is closed-form — a wrong contraction
(self-pair kept, duplicate condensation edge, SCC split upstream)
moves a degree.  Scale: the
condensation adds two scc-keyed joins + one distinct over edges on top
of scc_colored's equi-join rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query


def scc_colored(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 64,
    max_phases: int = 16,
) -> DataFrame:
    """(node_id) + (src, dst) → (node_id, scc_id); scc_id = min member.

    Raises RuntimeError if the graph needs more than ``max_rounds``
    propagation rounds (diameter) or ``max_phases`` peel phases."""
    remaining = nodes.select("node_id").distinct().localCheckpoint()
    all_edges = edges.select("src", "dst").distinct().localCheckpoint()
    found_frames: list[DataFrame] = []
    spark = nodes.sparkSession

    for _phase in range(max_phases):
        if remaining.isEmpty():
            break
        live = all_edges.join(
            remaining.select(F.col("node_id").alias("src")), "src"
        ).join(remaining.select(F.col("node_id").alias("dst")), "dst")
        live = live.localCheckpoint()

        # 1. forward-min coloring to fixpoint
        color = remaining.select(
            "node_id", F.col("node_id").alias("color")
        ).localCheckpoint()
        for _round in range(max_rounds):
            nbr = (
                live.join(
                    color.select(
                        F.col("node_id").alias("dst"),
                        F.col("color").alias("dst_color"),
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("dst_color").alias("nbr_min"))
            )
            stepped = color.join(
                nbr, color.node_id == nbr.src, "left"
            ).select(
                "node_id",
                F.least(
                    F.col("color"),
                    F.coalesce("nbr_min", F.col("color")),
                ).alias("color"),
            )
            # pointer jump: colors are node ids, and min-fwd-reachable
            # is transitive (color(color(v)) is fwd-reachable from v),
            # so color[v] := min(color[v], color[color[v]]) doubles the
            # propagation horizon — rounds drop from diameter to
            # ~log(diameter) (the connected_components idiom, applied
            # to the directed fold)
            hop = stepped.select(
                F.col("node_id").alias("_c"), F.col("color").alias("_cc")
            )
            stepped = (
                stepped.join(hop, stepped.color == hop._c, "left")
                .select(
                    "node_id",
                    F.least(
                        F.col("color"), F.coalesce("_cc", F.col("color"))
                    ).alias("color"),
                )
                .localCheckpoint()
            )
            changed = (
                stepped.alias("n")
                .join(color.alias("o"), "node_id")
                .where(F.col("n.color") != F.col("o.color"))
                .count()
            )
            color = stepped
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"SCC coloring did not converge in {max_rounds} rounds "
                "(graph diameter exceeds the bound) — raise max_rounds"
            )

        # 2+3. heads, then same-color forward reachability from heads
        marked = color.where(F.col("node_id") == F.col("color")).select(
            "node_id", "color"
        ).localCheckpoint()
        colored_edges = (
            live.join(
                color.select(
                    F.col("node_id").alias("src"),
                    F.col("color").alias("src_color"),
                ),
                "src",
            )
            .join(
                color.select(
                    F.col("node_id").alias("dst"),
                    F.col("color").alias("dst_color"),
                ),
                "dst",
            )
            .where(F.col("src_color") == F.col("dst_color"))
            .select("src", "dst", F.col("src_color").alias("color"))
            .localCheckpoint()
        )
        for _round in range(max_rounds):
            frontier = (
                colored_edges.join(
                    marked.select(
                        F.col("node_id").alias("src"),
                        F.col("color").alias("mcolor"),
                    ),
                    "src",
                )
                .where(F.col("color") == F.col("mcolor"))
                .select(F.col("dst").alias("node_id"), "color")
                .distinct()
                .join(marked.select("node_id"), "node_id", "left_anti")
            )
            if frontier.isEmpty():
                break
            marked = marked.unionByName(frontier).localCheckpoint()
        else:
            raise RuntimeError(
                f"SCC confirmation did not converge in {max_rounds} rounds"
            )

        found = marked.select("node_id", F.col("color").alias("scc_id"))
        found_frames.append(found.localCheckpoint())
        remaining = remaining.join(
            found.select("node_id"), "node_id", "left_anti"
        ).localCheckpoint()
    else:
        if not remaining.isEmpty():
            raise RuntimeError(
                f"SCC peeling did not finish in {max_phases} phases — "
                "raise max_phases (deep condensation-DAG chain)"
            )

    if not found_frames:
        return spark.createDataFrame([], "node_id long, scc_id long")
    out = found_frames[0]
    for f in found_frames[1:]:
        out = out.unionByName(f)
    return out


@query(
    "graph_scc",
    oracle="""
    WITH ranked AS (
      SELECT c_custkey AS r FROM customer
    ),
    tot AS (SELECT COUNT(*) AS n FROM ranked)
    SELECT r AS node_id,
           CAST(CASE WHEN r < (SELECT n FROM tot) - (SELECT n FROM tot) % 10
                     THEN r - r % 10 ELSE r END AS BIGINT) AS scc_id,
           CAST(CASE WHEN r < (SELECT n FROM tot) - (SELECT n FROM tot) % 10
                     THEN 10 ELSE 1 END AS BIGINT) AS scc_size
    FROM ranked
    """,
)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC over the planted cycle-group digraph — see the notes above.
    Groups of 10 ranked customers form 10-cycles (one SCC each; the
    last group wraps within its own, possibly smaller, size); chords
    r → r+10 (r % 10 = 3) and r → r+20 (r % 10 = 7) point strictly
    ascending, so the group condensation is a DAG and a false merge or
    split moves a scc_id or a size — hash red.  Node ids are the
    custkeys directly (the fixture keys are contiguous 0..N−1), so the
    fixture build is map-only — no global row_number window."""
    cust = load_table(spark, sf_dir, "customer")
    ranked = cust.select(F.col("c_custkey").alias("r"))
    n = ranked.count()
    nodes = ranked.select(F.col("r").alias("node_id"))
    grp = F.col("r") - F.col("r") % 10
    # constant 10-cycles; a partial tail group's wrap edge points at a
    # nonexistent node and is dropped by scc_colored's live-node join,
    # so tail nodes decompose into singletons (the oracle's CASE arm) —
    # total for ANY key population, contiguous or sharded
    cycle = ranked.select(
        F.col("r").alias("src"),
        (grp + (F.col("r") % 10 + 1) % 10).alias("dst"),
    )
    chord1 = ranked.where((F.col("r") % 10 == 3) & (F.col("r") + 10 < n)).select(
        F.col("r").alias("src"), (F.col("r") + 10).alias("dst")
    )
    chord2 = ranked.where((F.col("r") % 10 == 7) & (F.col("r") + 20 < n)).select(
        F.col("r").alias("src"), (F.col("r") + 20).alias("dst")
    )
    edges = cycle.unionByName(chord1).unionByName(chord2)
    scc = scc_colored(nodes, edges)
    sizes = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("scc_size")
    )
    return scc.join(sizes, "scc_id").select(
        "node_id", F.col("scc_id").cast("bigint").alias("scc_id"), "scc_size"
    )


@query(
    "graph_condensation",
    oracle="""
    WITH tot AS (SELECT COUNT(*) AS n FROM customer),
    full_groups AS (
      SELECT (SELECT n FROM tot) - (SELECT n FROM tot) % 10 AS fg
    ),
    sccs AS (
      SELECT DISTINCT CASE WHEN c_custkey < (SELECT fg FROM full_groups)
                           THEN c_custkey - c_custkey % 10
                           ELSE c_custkey END AS scc_id,
             CASE WHEN c_custkey < (SELECT fg FROM full_groups)
                  THEN 10 ELSE 1 END AS scc_size
      FROM customer
    ),
    g AS (SELECT scc_id, scc_size,
                 scc_id // 10 AS gi,
                 (SELECT fg FROM full_groups) // 10 AS ng,
                 (SELECT n FROM tot) AS n
          FROM sccs)
    SELECT scc_id,
           CAST(scc_size AS BIGINT) AS scc_size,
           -- full groups: out to g+1/g+2 where those are full; tail
           -- singletons: out to the next tail node (the in-group path)
           CAST(CASE WHEN scc_size = 10 THEN
                  (CASE WHEN gi + 1 < ng THEN 1 ELSE 0 END)
                + (CASE WHEN gi + 2 < ng THEN 1 ELSE 0 END)
                ELSE (CASE WHEN scc_id + 1 < n THEN 1 ELSE 0 END)
                END AS BIGINT) AS out_deg,
           CAST(CASE WHEN scc_size = 10 THEN
                  (CASE WHEN gi >= 1 THEN 1 ELSE 0 END)
                + (CASE WHEN gi >= 2 THEN 1 ELSE 0 END)
                ELSE (CASE WHEN scc_id % 10 > 0 THEN 1 ELSE 0 END)
                END AS BIGINT) AS in_deg
    FROM g
    """,
)
def graph_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG of the wave-68 fixture — see the notes above.
    Tail singletons keep their in-group path edges (r → r+1), so their
    degrees follow the path rule; chords are guarded to FULL-group
    targets so the condensation between full groups stays the clean
    g → g+1 / g → g+2 chain and tail nodes never receive chords."""

    # the wave-68 fixture's cycle edges, chords guarded to full groups
    cust = load_table(spark, sf_dir, "customer")
    ranked = cust.select(F.col("c_custkey").alias("r"))
    n = ranked.count()
    fg = n - n % 10
    nodes = ranked.select(F.col("r").alias("node_id"))
    grp = F.col("r") - F.col("r") % 10
    cycle = ranked.select(
        F.col("r").alias("src"),
        (grp + (F.col("r") % 10 + 1) % 10).alias("dst"),
    )
    chord1 = ranked.where((F.col("r") % 10 == 3) & (F.col("r") + 10 < fg)).select(
        F.col("r").alias("src"), (F.col("r") + 10).alias("dst")
    )
    chord2 = ranked.where((F.col("r") % 10 == 7) & (F.col("r") + 20 < fg)).select(
        F.col("r").alias("src"), (F.col("r") + 20).alias("dst")
    )
    edges = cycle.unionByName(chord1).unionByName(chord2)
    scc = scc_colored(nodes, edges).localCheckpoint(eager=True)

    live = edges.join(
        scc.select(F.col("node_id").alias("src"), F.col("scc_id").alias("sa")),
        "src",
    ).join(
        scc.select(F.col("node_id").alias("dst"), F.col("scc_id").alias("sb")),
        "dst",
    )
    cond = (
        live.where(F.col("sa") != F.col("sb"))
        .select("sa", "sb")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("scc_size")
    )
    outd = cond.groupBy(F.col("sa").alias("scc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_deg")
    )
    ind = cond.groupBy(F.col("sb").alias("scc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_deg")
    )
    return (
        sizes.join(outd, "scc_id", "left")
        .join(ind, "scc_id", "left")
        .select(
            "scc_id",
            "scc_size",
            F.coalesce("out_deg", F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("bigint").alias("in_deg"),
        )
    )
