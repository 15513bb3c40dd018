"""Graph analytics over the co-purchase graph: degree, triangles, PageRank.

Reference context: the reference ships no graph operators (its surface is
the RAG client, vector-client.ts:61-424); these extend the north-star
suite with the graph shapes a training-data platform runs over its
entity/link structure (domain link graphs for crawl prioritization,
co-citation graphs for source weighting) — expressed here over the
fixture's natural graph: parts co-purchased within an order.

Graph construction is itself the first scale statement: per-order edge
fan-out is C(basket, 2) and TPC-H-ish baskets are bounded (≤7 lines), so
the pair self-join is LINEAR in lineitem with a constant factor — never
n². The weight≥2 threshold ("repeat co-purchases") keeps the graph
sparse and is applied inside the edge aggregate, before anything
downstream fans out.

Algorithm notes (public literature):
  * triangles — degree-ordered orientation ("compact-forward", Latapy
    2008; the MapReduce variant is Suri & Vassilvitskii WWW'11): orient
    every edge from the (degree, id)-smaller endpoint to the larger, so
    wedge enumeration is Σ C(outdeg, 2) with outdeg ≤ O(√m) on any
    graph, instead of Σ C(deg, 2) which explodes on hubs.
  * PageRank — fixed-iteration power method (Page et al. 1999), each
    step one shuffle join (ranks ⋈ edges on src) + one keyed aggregate;
    the teleport term needs only a broadcast 1-row node count. Sums use
    the exact-decimal fold so Spark's 32-partition partial aggregates
    and DuckDB's serial scan produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from vector_ai_npm_spark.functions.numeric import dsum, o_dsum
from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query
from vector_ai_npm_spark.session import FrameCache

_MIN_W = 2          # repeat co-purchases only: keeps the graph sparse
_DAMPING = 0.85
_N_ITER = 3         # fixed power-method steps (declared, oracle-unrolled)

# Shared DuckDB CTE: canonical (src < dst) thresholded edge list.
_O_EDGES = f"""
    items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
      SELECT a.p AS src, b.p AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= {_MIN_W}
    ),
    sym AS (
      SELECT src AS node, dst AS nbr, w FROM edges
      UNION ALL
      SELECT dst AS node, src AS nbr, w FROM edges
    )
"""


_EDGE_CACHE = FrameCache()


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (src < dst) co-purchase edges with weight ≥ _MIN_W,
    persisted once per (application, fixture dir).

    Every graph face starts from this frame, and the build (the
    corpus-scale basket aggregate below) measured 1.29 s at sf0.1 for a
    3,573-row result — while ten registry faces each re-derived it per
    invocation (r13 optimization round).  The cached frame is
    graph-sized (≤ distinct-part pairs with support ≥ _MIN_W), never
    corpus-sized, so the persist is bounded at any scale.  Key,
    eviction and staleness contract: see :class:`session.FrameCache`."""
    return _EDGE_CACHE.get(
        spark, sf_dir,
        lambda: _copurchase_edges_uncached(spark, sf_dir).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


def _copurchase_edges_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The edge build itself.

    TWO shuffles total, no join: group lineitem by order (collect_set
    dedupes parts within the basket — no separate distinct pass), then
    expand each sorted basket's C(k,2) pairs INLINE with array
    higher-order functions (whole-stage codegen, fan-out bounded by
    basket size), then one keyed aggregate for the weights. The
    equivalent distinct + self-join-on-order formulation costs a third
    shuffle and materializes every basket twice on the probe and build
    sides — measured ~40% slower at sf0.1."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS src, y AS dst))))"
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= _MIN_W)
    )


def _symmetrized(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr"), "w"
    ).unionAll(
        edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr"), "w")
    )


@query(
    "graph_degree",
    oracle=f"""
    WITH {_O_EDGES}
    SELECT node,
           CAST(COUNT(*) AS BIGINT) AS degree,
           CAST(SUM(w) AS BIGINT) AS wdegree
    FROM sym GROUP BY node
    """,
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree + weighted degree of the co-purchase graph.

    Plan: edge build (above) + one symmetrize-union + one keyed
    aggregate — the union doubles rows, not shuffles (both legs share
    the edge aggregate's output)."""
    sym = _symmetrized(copurchase_edges(spark, sf_dir))
    return sym.groupBy("node").agg(
        F.count(F.lit(1)).alias("degree"),
        F.sum("w").alias("wdegree"),
    )


def _degree_oriented_wedges(edges: DataFrame):
    """(wedges, oriented): orient every canonical edge from its
    (degree, id)-smaller endpoint to the larger, then self-join on the
    shared low endpoint with the (deg, id) order on the two high ends.
    Enumerates exactly the 2-paths whose CENTER is the orientation-low
    vertex — sufficient for triangle closure (every 3-clique has a
    unique lowest vertex), NOT for common-neighbor counting (a shared
    neighbor may rank above either endpoint; see
    graph_jaccard_neighbors). Fan-out per node is C(outdeg, 2) with
    outdeg ≤ O(√m) (compact-forward invariant).
    The edge list feeds four plan branches (degree, both wedge sides,
    a consumer's closing probe) — all share the weight-aggregate
    Exchange, which ReuseExchange dedupes inside the single plan; an
    explicit persist here measured SLOWER (InMemoryRelation hides size
    stats from the broadcast planner and each invocation re-caches)."""
    deg = (
        _symmetrized(edges.withColumn("w", F.lit(1)))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("d", "ds")
        .join(deg.withColumnRenamed("node", "dst"), "dst")
        .withColumnRenamed("d", "dd")
    )
    src_first = F.struct(F.col("ds"), F.col("src")) < F.struct(
        F.col("dd"), F.col("dst")
    )
    oriented = e.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
        F.when(src_first, F.col("dd")).otherwise(F.col("ds")).alias("dhi"),
    )
    a, b = oriented.alias("a"), oriented.alias("b")
    wedges = a.join(b, F.col("a.lo") == F.col("b.lo")).where(
        F.struct(F.col("a.dhi"), F.col("a.hi"))
        < F.struct(F.col("b.dhi"), F.col("b.hi"))
    )
    return wedges, oriented


@query(
    "graph_triangles",
    oracle=f"""
    WITH {_O_EDGES},
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM edges e1
      JOIN edges e2 ON e2.src = e1.dst
      JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    pernode AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM pernode GROUP BY node
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation count per node, degree-oriented.

    The oracle enumerates triangles in id-canonical order (a<b<c); the
    Spark side re-orients every edge from its (degree, id)-smaller
    endpoint to the larger before the wedge join — the SAME triangle
    set (orientation never changes which 3-cliques exist), but the
    wedge fan-out per node is C(outdeg, 2) with outdeg bounded by
    O(√m) under degree ordering (Latapy's compact-forward invariant),
    so a power-law hub with degree 10⁶ contributes ~nothing instead of
    10¹² wedges. All three joins are equi-joins (no cross product);
    the closing probe keys on the full (lo, hi) edge pair."""
    # deliberately the UNCACHED edge build: the 4-branch wedge plan
    # shares the edge aggregate's Exchange via ReuseExchange inside one
    # job, which beats 4 InMemoryTableScans of the session-cached frame
    # (re-measured r13: cached 4.02 s vs uncached 2.83 s best-of-5 —
    # the same result the original persist experiment found)
    return triangle_counts(
        _copurchase_edges_uncached(spark, sf_dir).select("src", "dst")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts on any canonical (src < dst) edge list
    (the engine-facade entry; graph_triangles wires in the fixture)."""
    wedges, oriented = _degree_oriented_wedges(edges)
    closing = oriented.select(
        F.col("lo").alias("c_lo"), F.col("hi").alias("c_hi")
    )
    tri = wedges.join(
        closing,
        (F.col("a.hi") == F.col("c_lo")) & (F.col("b.hi") == F.col("c_hi")),
    ).select(
        F.col("a.lo").alias("x"), F.col("a.hi").alias("y"), F.col("b.hi").alias("z")
    )
    pernode = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return pernode.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank_edges(edges: DataFrame, n_iter: int = _N_ITER) -> DataFrame:
    """Power-method PageRank (damping 0.85) on any canonical edge list,
    treated undirected — the engine-facade entry; graph_pagerank wires
    in the fixture graph and a per-session cache."""
    sym = _symmetrized(edges.withColumn("w", F.lit(1))).select("node", "nbr")
    return _pagerank_over_sym(sym, n_iter)


def _pagerank_over_sym(sym: DataFrame, n_iter: int = _N_ITER) -> DataFrame:
    # deg is re-read by every iteration: checkpoint it ONCE (node-count
    # sized) so each step's plan is shallow instead of nesting the
    # degree aggregation k times.  n is a bounded driver scalar (the
    # one-row aggregate the old plan broadcast via crossJoin); Python
    # and JVM share IEEE division so 0.15/n is bit-identical either
    # way.  Checkpointing RANKS each step keeps the per-iteration plan
    # at a constant 2-join depth — the r12 bench flag traced to the
    # k-deep nested plan (codegen + stage count grows with k, and the
    # whole tower re-executes under full-session GC pressure).
    nodes = sym.select("node").distinct()
    n_val = float(nodes.count())
    deg = (
        sym.groupBy("node")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(n_val)).alias("r"))
    for i in range(n_iter):
        contrib = (
            sym.join(ranks, "node")
            .join(deg, "node")
            .groupBy(F.col("nbr").alias("node"))
            .agg(dsum(F.col("r") / F.col("d"), "s"))
        )
        ranks = contrib.select(
            "node",
            (
                F.lit(0.15) / F.lit(n_val) + F.lit(0.85) * F.col("s")
            ).alias("r"),
        )
        if i < n_iter - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("r").alias("pagerank"))


@query(
    "basket_lift",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    norder AS (SELECT CAST(COUNT(DISTINCT o) AS DOUBLE) AS n FROM items),
    cnt AS (SELECT p, CAST(COUNT(*) AS DOUBLE) AS c FROM items GROUP BY p),
    pairs AS (
      SELECT a.p AS src, b.p AS dst, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= {_MIN_W}
    )
    SELECT src, dst, n_ab,
           CAST(n_ab AS DOUBLE) / ca.c AS confidence,
           CAST(n_ab AS DOUBLE) * n.n / (ca.c * cb.c) AS lift
    FROM pairs
    JOIN cnt ca ON ca.p = pairs.src
    JOIN cnt cb ON cb.p = pairs.dst, norder n
    """,
)
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association metrics (support ≥ {_MIN_W} pairs):
    confidence P(dst|src) and lift P(src,dst)/(P(src)P(dst)).

    Plan: the SAME grouped-basket inline pair expansion as the graph
    edge build (two shuffles, no self-join); item order-frequencies
    come from exploding the already-grouped baskets (never re-reading
    lineitem) and join back on each endpoint as keyed equi-joins; the
    basket count for lift is a broadcast 1-row aggregate. Per-row
    metric arithmetic is plain IEEE double with the association order
    fixed to match the oracle: (n_ab·n)/(c_a·c_b)."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    n = F.broadcast(
        baskets.agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    cnt = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS src, y AS dst))))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _MIN_W)
    )
    return (
        pairs.join(cnt.withColumnRenamed("p", "src").withColumnRenamed("c", "ca"), "src")
        .join(cnt.withColumnRenamed("p", "dst").withColumnRenamed("c", "cb"), "dst")
        .crossJoin(n)
        .select(
            "src", "dst", "n_ab",
            (F.col("n_ab").cast("double") / F.col("ca")).alias("confidence"),
            (F.col("n_ab").cast("double") * F.col("n") / (F.col("ca") * F.col("cb")))
            .alias("lift"),
        )
    )


_SYM_CACHE = FrameCache()


def _pagerank_sym_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (node, nbr) edge list, persisted once per (application,
    fixture dir); see :class:`session.FrameCache`."""
    return _SYM_CACHE.get(
        spark, sf_dir,
        lambda: _symmetrized(copurchase_edges(spark, sf_dir))
        .select("node", "nbr")
        .persist(StorageLevel.MEMORY_AND_DISK),
    )


def _o_pr_iter(prev: str, out: str) -> str:
    """One unrolled DuckDB PageRank step: contributions r/d summed per
    target with the exact-decimal fold, then teleport added."""
    return f"""
    {out} AS (
      SELECT t.node, 0.15 / n.n + 0.85 * t.s AS r
      FROM (
        SELECT s.nbr AS node, {o_dsum(f"{prev}.r / dg.d")} AS s
        FROM sym s
        JOIN {prev} ON {prev}.node = s.node
        JOIN deg dg ON dg.node = s.node
        GROUP BY s.nbr
      ) t, n
    )
    """


@query(
    "graph_pagerank",
    oracle=f"""
    WITH {_O_EDGES},
    nodes AS (SELECT DISTINCT node FROM sym),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT node, CAST(COUNT(*) AS DOUBLE) AS d FROM sym GROUP BY node),
    r0 AS (SELECT node, 1.0 / n.n AS r FROM nodes, n),
    {_o_pr_iter("r0", "r1")},
    {_o_pr_iter("r1", "r2")},
    {_o_pr_iter("r2", "r3")}
    SELECT node, r AS pagerank FROM r3
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_N_ITER}-step power-method PageRank (damping 0.85) on the
    undirected co-purchase graph.

    Every node in the edge list has degree ≥ 1 (it got there via an
    edge) and the graph is symmetric, so there is no dangling mass —
    total rank stays exactly 1 per step (pinned in tests/test_graph.py).

    Plan per iteration: ranks ⋈ sym-edges on the source key (one
    shuffle; at 100 TB both sides hash-partition on node id and the
    partitioning is REUSED across iterations since the key never
    changes), then a keyed aggregate on the target. The node count for
    the teleport term is a broadcast 1-row aggregate. Per-row
    arithmetic is plain IEEE double (deterministic in both engines);
    only the neighbor-sum — the one order-sensitive reduction — goes
    through the exact-decimal fold."""
    # the symmetric edge list is consumed by every iteration (plus the
    # node/degree builds); persist it ONCE PER (session, fixture) so
    # iteration k never replays the lineitem scan + pair join, and
    # repeated invocations (bench repeats, rotation re-checks) reuse the
    # same materialization instead of stacking a fresh cache entry each
    # call (the iterative-trainer discipline, TUNING §4)
    return _pagerank_over_sym(_pagerank_sym_cached(spark, sf_dir), _N_ITER)


@query(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH {_O_EDGES},
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY node),
    s AS (
      SELECT sym.node, sym.nbr FROM sym
      JOIN deg c ON c.node = sym.nbr AND c.d <= 64
    ),
    common AS (
      SELECT s1.node AS node_a, s2.node AS node_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM s s1 JOIN s s2
        ON s1.nbr = s2.nbr AND s1.node < s2.node
      GROUP BY s1.node, s2.node
    )
    SELECT c.node_a, c.node_b, c.n_common,
           CAST(c.n_common AS DOUBLE) /
             CAST(da.d + db.d - c.n_common AS DOUBLE) AS jaccard
    FROM common c
    JOIN deg da ON da.node = c.node_a
    JOIN deg db ON db.node = c.node_b
    WHERE c.n_common >= 2
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction: for every node pair with
    ≥2 shared neighbors, |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    common-neighbors candidate scorer (recommend b to a's buyers).

    Enumeration is the 2-path self-join of the symmetric adjacency on
    the shared node — Σ C(deg(x), 2) paths, which is NOT reducible by
    degree orientation (unlike triangles, where each 3-clique has a
    unique lowest vertex, every 2-path here is a potential shared
    neighbor regardless of rank order). That sum IS the output of the
    enumeration, so the cost is inherent to exactness; the 100 TB
    mitigations are upstream of this operator: the w≥{_MIN_W} edge
    sparsifier (already applied), the IMPLEMENTED hub degree cap
    (:func:`jaccard_neighbor_pairs` ``max_center_degree`` — drop shared
    nodes with deg > D before the self-join; a conservative
    lower-bound, standard in production similarity graphs, pinned in
    tests/test_graph.py), or MinHash over neighbor sets when
    approximate Jaccard suffices (the dedup_minhash machinery). The
    hub cap (JACCARD_HUB_CAP=64) is ON by default — the oracle mirrors
    the same deg<=64 center filter, and the fixtures' max degree is 51,
    so fixture results equal the exact form while the default route is
    the one that survives a hub at 100 TB; `jaccard_cap_recall` pins
    planted-pair recall where the cap actually bites.
    Degrees join back keyed; union size is inclusion-exclusion (no
    set materialization)."""
    edges = copurchase_edges(spark, sf_dir).select("src", "dst")
    return jaccard_neighbor_pairs(edges, min_common=2)


JACCARD_HUB_CAP = 64
"""Default center-degree cap for neighbor-Jaccard (round-5 verdict item
5: the cap is ON by default; exact is the opt-in). Sized from
graph_degree_distribution: the fixtures' co-purchase graphs top out at
degree 51 (sf0.001) / 15 (sf0.01) / 10 (sf0.1), so 64 changes nothing
at fixture scale while bounding per-center fan-out at C(64,2) ≈ 2k
pairs on any input — the 10× replica study's 33.6M-pair blowup came
entirely from uncapped hub centers."""


def jaccard_neighbor_pairs(
    edges: DataFrame,
    min_common: int = 2,
    max_center_degree: int | None = JACCARD_HUB_CAP,
) -> DataFrame:
    """Common-neighbor Jaccard over any canonical edge list.

    ``max_center_degree`` is the hub cap, ON BY DEFAULT at
    ``JACCARD_HUB_CAP``; pass ``None`` to opt into the exact uncapped
    form. Shared-neighbor enumeration fans out C(deg(x), 2) per center
    x, so a single degree-10⁶ hub contributes 5·10¹¹ pairs — capping
    drops centers with deg > D before the self-join, bounding
    per-center fan-out at C(D, 2). The capped result is a CONSERVATIVE
    lower bound: the pair set shrinks to pairs discoverable via non-hub
    centers, and each surviving pair's n_common/jaccard counts only its
    non-hub shared neighbors (degrees in the denominator stay true).
    Subset + lower-bound pinned in tests/test_graph.py; planted-pair
    recall under a biting cap is the driver-checked
    `jaccard_cap_recall` contract."""
    deg = (
        _symmetrized(edges.withColumn("w", F.lit(1)))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    sym = _symmetrized(edges.withColumn("w", F.lit(1))).select("node", "nbr")
    if max_center_degree is not None:
        ok_centers = deg.where(F.col("d") <= max_center_degree).select(
            F.col("node").alias("nbr")
        )
        sym = sym.join(ok_centers, "nbr", "left_semi")
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    common = (
        s1.join(
            s2,
            (F.col("s1.nbr") == F.col("s2.nbr"))
            & (F.col("s1.node") < F.col("s2.node")),
        )
        .groupBy(
            F.col("s1.node").alias("node_a"), F.col("s2.node").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    return (
        common.join(deg.withColumnRenamed("node", "node_a"), "node_a")
        .withColumnRenamed("d", "da")
        .join(deg.withColumnRenamed("node", "node_b"), "node_b")
        .withColumnRenamed("d", "db")
        .select(
            "node_a",
            "node_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


_N_CAP_PLANT = 20


@query(
    "jaccard_cap_recall",
    oracle=f"""
    WITH i AS (SELECT CAST(unnest(range(1, {_N_CAP_PLANT + 1})) AS BIGINT) AS i),
    spokes AS (SELECT CAST(unnest(range(1, 101)) AS BIGINT) AS s),
    e AS (
      SELECT 1000 + i AS src, 3000 + i AS dst FROM i
      UNION ALL SELECT 2000 + i, 3000 + i FROM i
      UNION ALL SELECT 1000 + i, 4000 + i FROM i
      UNION ALL SELECT 2000 + i, 4000 + i FROM i
      UNION ALL SELECT 0, 100000 + s FROM spokes
    ),
    sym AS (SELECT src AS node, dst AS nbr FROM e
            UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY node),
    s AS (SELECT sym.node, sym.nbr FROM sym
          JOIN deg c ON c.node = sym.nbr AND c.d <= 64),
    common AS (
      SELECT s1.node AS a, s2.node AS b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM s s1 JOIN s s2 ON s1.nbr = s2.nbr AND s1.node < s2.node
      GROUP BY s1.node, s2.node HAVING COUNT(*) >= 2
    )
    SELECT CAST({_N_CAP_PLANT} AS BIGINT) AS n_planted,
           CAST(COUNT(*) FILTER (WHERE a > 1000 AND a <= 1000 + {_N_CAP_PLANT}
                AND b = a + 1000 AND n_common = 2) AS BIGINT) AS n_found,
           CAST(COUNT(*) FILTER (WHERE a >= 100000 OR b >= 100000)
                AS BIGINT) AS hub_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM common
    """,
)
def jaccard_cap_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-pair recall contract for the DEFAULT capped Jaccard route
    (the lsh_dedup_recall pattern, round-5 verdict item 5): a synthetic
    graph where the cap BITES — one degree-100 hub (> JACCARD_HUB_CAP)
    whose C(100,2) spoke pairs must all be dropped, plus {_N_CAP_PLANT}
    planted pairs each sharing exactly 2 low-degree neighbors, which
    must all survive with n_common=2. The DuckDB oracle re-runs the
    same capped algorithm on the same generated edge list (a value
    check, not pinned constants): expected row is (n_planted=20,
    n_found=20, hub_pairs=0, n_pairs=20) — a cap regression in either
    direction (dropping real pairs, or letting hub fan-out through)
    flips a count and fails the hash."""
    i = spark.range(1, _N_CAP_PLANT + 1).select(F.col("id").alias("i"))
    planted = i.select(
        F.explode(
            F.array(
                F.struct((F.col("i") + 1000).alias("src"),
                         (F.col("i") + 3000).alias("dst")),
                F.struct((F.col("i") + 2000).alias("src"),
                         (F.col("i") + 3000).alias("dst")),
                F.struct((F.col("i") + 1000).alias("src"),
                         (F.col("i") + 4000).alias("dst")),
                F.struct((F.col("i") + 2000).alias("src"),
                         (F.col("i") + 4000).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    hub = spark.range(1, 101).select(
        F.lit(0).cast("long").alias("src"),
        (F.col("id") + 100000).alias("dst"),
    )
    pairs = jaccard_neighbor_pairs(
        planted.unionByName(hub), min_common=2
    )
    planted_hit = (
        (F.col("node_a") > 1000)
        & (F.col("node_a") <= 1000 + _N_CAP_PLANT)
        & (F.col("node_b") == F.col("node_a") + 1000)
        & (F.col("n_common") == 2)
    )
    hub_hit = (F.col("node_a") >= 100000) | (F.col("node_b") >= 100000)
    return pairs.agg(
        F.lit(_N_CAP_PLANT).cast("long").alias("n_planted"),
        F.count(F.when(planted_hit, 1)).alias("n_found"),
        F.count(F.when(hub_hit, 1)).alias("hub_pairs"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_O_EDGES},
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM sym GROUP BY node),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)
    SELECT degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COUNT(*) AS DOUBLE) / n.n AS node_share
    FROM deg, n GROUP BY degree, n.n
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph — the measurement that
    SIZES the other graph knobs: a heavy tail here is what makes
    degree-ordered triangle counting necessary and what picks
    `jaccard_neighbor_pairs`' ``max_center_degree`` (cap where the
    tail's share of Σ C(deg,2) stops being worth the lost pairs).

    Plan: the degree aggregate (one keyed shuffle) reduced again to
    O(distinct degrees) rows, with the node count broadcast as a 1-row
    aggregate for the share — output is histogram-sized at any graph
    size."""
    sym = _symmetrized(
        copurchase_edges(spark, sf_dir).select("src", "dst").withColumn(
            "w", F.lit(1)
        )
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    n = F.broadcast(deg.agg(F.count(F.lit(1)).cast("double").alias("n")))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(n)
        .select(
            "degree",
            "n_nodes",
            (F.col("n_nodes").cast("double") / F.col("n")).alias("node_share"),
        )
    )
