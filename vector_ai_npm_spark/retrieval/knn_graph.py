"""Wave 48 (round 10): graph-structured ANN — the HNSW-shaped member
of the FAISS family (IVF / PQ / OPQ / SQ8 / binary landed rounds 4-9;
the round-9 verdict's item 6 asked for the graph face).

Design, Spark-first (NN-descent is pure joins; Dong et al., WWW'11):

  * **Build** — initial candidate edges from the repo's sign-LSH band
    machinery (dedup.embedding_router.sign_lsh_signatures: seeded
    hyperplanes, banded equi-join, never a cross product), scored and
    truncated to per-node top-k via a k-bounded window; then
    ``refine_rounds`` of NN-descent: join the neighbor lists with
    themselves (neighbor-of-neighbor candidates), score the NEW pairs
    only, union, re-truncate.  Each round is (join → groupBy top-k) on
    node-keyed frames — the same shuffle key every round, and each
    round's frame is localCheckpointed (the graph_kcore lineage
    discipline: iterative plans re-reference their ancestors).
  * **Search** — beam search: deterministic md5-top-E entry points
    (the fixed-size sampling idiom, TUNING round 9), score against the
    query, then ``rounds`` of (beam ⋈ graph → score new frontier →
    union visited → re-beam).  Per-query exact-scored candidates are
    bounded by E + rounds·beam·k — the budget the recall contract
    (`knn_graph_recall_contract`) proves is SMALLER than what the
    IVF-PQ face scans at nprobe = nlist/2, while matching its recall
    floors on the same ANN-hostile uniform fixture.

100 TB shape: every stage is a Catalyst join/aggregate on (node, …)
keys — no driver-side graph, no per-row Python (scoring reuses the
JVM-codegen cosine); the graph build's candidate volume is
output-bound (band buckets + neighbor-of-neighbor fan-out ≤ n·k²),
and search cost is per-query O(rounds·beam·k) INDEPENDENT of corpus
size once the graph exists — the property that makes graph ANN the
production choice for high-recall serving.

Reference scope: §2B north-star (B9 ANN family); the reference client
delegates search to pgvector (vector-client.ts:402-404).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.functions.vectors import cosine_similarity
from vector_ai_npm_spark.session import FrameCache


def _topk_per_key(df: DataFrame, key: str, k: int) -> DataFrame:
    w = Window.partitionBy(key).orderBy(
        F.col("sim").desc(), F.col("dst") if "dst" in df.columns else F.col("vec_id")
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def build_knn_graph(
    emb: DataFrame,
    k: int = 8,
    n_tables: int = 6,
    bits: int = 10,
    refine_rounds: int = 2,
    seed: int = 42,
    random_tables: int = 0,
    random_occupancy: int = 16,
    build_degree: int | None = None,
    long_range: int = 0,
    symmetrize_cap: int | None = None,
) -> DataFrame:
    """Directed kNN graph (src, dst, sim): sign-LSH seeding + NN-descent
    refinement.  ``emb`` must carry (vec_id, embedding).

    ``random_tables`` adds that many RANDOM-bucket seed tables alongside
    the LSH ones (each node hashed into a bucket of expected size
    ``random_occupancy`` — bounded all-pairs within a bucket, never a
    cross product).  This is the classic NN-descent random
    initialization (Dong et al. §2.3 seeds with random neighbors):
    pure-LSH seeding confines round-0 edges to LSH-similar regions, and
    neighbor-of-neighbor refinement then explores only WITHIN those
    regions — measured at sf1 (20k vectors, TUNING.md r12): LSH-only
    graph recall 0.205; long-range random seeds restore descent's
    ability to route anywhere.

    ``build_degree`` (default: k) runs NN-descent at a HIGHER working
    degree and truncates to k only at the end — the standard remedy for
    descent stalling on high-dimensional near-orthogonal data (Dong et
    al. report K well above the target k; a degree-k graph's
    neighbor-of-neighbor pool is too small to keep improving once the
    easy edges are found).

    ``long_range`` keeps that many RANDOM long-range out-edges per node
    IN the final graph (beyond the top-k), the NSW small-world trick
    (Malkov et al. 2014).  Measured at sf1: raising build quality alone
    is a TRAP — the 0.904-recall pure kNN graph searched WORSE (2/15)
    than the sloppy 0.674 one (10/15), because near-orthogonal top-k
    edges are all short and greedy beam search cannot cross the space
    once the accidental long edges of a low-quality build are gone;
    explicit long links restore navigability without diluting the
    top-k neighborhood.

    ``symmetrize_cap`` unions the reverse edges (the undirected kNN
    graph NSW searches over) and re-truncates per src to the cap.
    Directed top-k truncation leaves anti-hub nodes effectively
    unreachable in the GREEDY direction — beam search can only step
    "uphill" along out-edges, and in near-orthogonal space many nodes
    are in nobody's top-k; the reverse edges let search step down into
    them.  Measured at sf1: (4,5,5)=14/15 with cap 24 vs (2,5,5)=12/15
    directed — the final piece of the r12 build fix."""
    from vector_ai_npm_spark.dedup.embedding_router import (
        sign_lsh_signatures,
    )

    dim = len(emb.select("embedding").first()[0])
    lsh_sig = sign_lsh_signatures(dim, n_tables=n_tables, bits=bits, seed=seed)
    vecs = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
    bands = (
        vecs.withColumn("sigs", lsh_sig("embedding"))
        .select("vec_id", F.posexplode("sigs").alias("table", "sig"))
    )
    if random_tables > 0:
        n = vecs.count()
        n_buckets = max(1, n // max(1, random_occupancy))
        rnd = None
        for j in range(random_tables):
            t_j = vecs.select(
                "vec_id",
                F.lit(n_tables + j).alias("table"),
                F.concat(
                    F.lit("rnd#"),
                    F.pmod(
                        F.xxhash64(F.col("vec_id"), F.lit(seed + 7919 * (j + 1))),
                        F.lit(n_buckets),
                    ).cast("string"),
                ).alias("sig"),
            )
            rnd = t_j if rnd is None else rnd.unionByName(t_j)
        bands = bands.withColumn("sig", F.col("sig").cast("string")).unionByName(rnd)
    a, b = bands.alias("a"), bands.alias("b")
    # narrow banded equi-join (ids only), one direction, dedup pairs
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    kb = build_degree or k
    graph = _score_and_truncate(cand, vecs, kb)
    for _ in range(refine_rounds):
        g1, g2 = graph.alias("g1"), graph.alias("g2")
        # neighbor-of-neighbor candidates through the shared middle node
        non = (
            g1.join(g2, F.col("g1.dst") == F.col("g2.src"))
            .where(F.col("g1.src") != F.col("g2.dst"))
            .select(
                F.col("g1.src").alias("src"),
                F.col("g2.dst").alias("dst"),
            )
            .dropDuplicates(["src", "dst"])
            # score only pairs not already in the graph
            .join(
                graph.select("src", "dst"), ["src", "dst"], "left_anti"
            )
        )
        scored_new = _score_and_truncate(non, vecs, kb, truncate=False)
        prev = graph
        graph = _topk_per_key(
            graph.unionByName(scored_new), "src", kb
        ).localCheckpoint(eager=True)
        # Drop the previous round's checkpoint blocks NOW: at 200k
        # vectors each round's blocks + shuffle files are tens of GB,
        # and ContextCleaner only sweeps unreferenced RDDs/shuffles
        # after a JVM GC (its own periodic GC defaults to 30 min —
        # longer than the whole build), so the transient footprint
        # reached ~70 GB and filled the disk (r13, measured via df
        # during the sf10 build).  Release the Python ref, then force
        # a JVM GC so the sweep happens per round, bounding peak disk
        # to ~one round's footprint.
        import gc

        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass
        jvm_gc = getattr(
            getattr(vecs, "sparkSession", None), "_jvm", None
        )
        del prev
        gc.collect()
        if jvm_gc is not None:
            try:
                jvm_gc.System.gc()
            except Exception:
                pass
    if kb != k:
        graph = _topk_per_key(graph, "src", k)
    if long_range > 0:
        # deterministic random pairing: hash nodes into buckets of
        # expected size 2, pair within — ~1 long edge per node per
        # table, both directions; never a cross product
        n = vecs.count()
        lr = None
        for j in range(long_range):
            key = F.pmod(
                F.xxhash64(F.col("vec_id"), F.lit(seed + 104729 * (j + 1))),
                F.lit(max(1, n // 2)),
            )
            bj = vecs.select("vec_id", key.alias("bkt"))
            x, y = bj.alias("x"), bj.alias("y")
            pj = (
                x.join(
                    y,
                    (F.col("x.bkt") == F.col("y.bkt"))
                    & (F.col("x.vec_id") < F.col("y.vec_id")),
                )
                .select(
                    F.col("x.vec_id").alias("src"),
                    F.col("y.vec_id").alias("dst"),
                )
            )
            lr = pj if lr is None else lr.unionByName(pj)
        lr_scored = _score_and_truncate(
            lr.dropDuplicates(["src", "dst"]), vecs, long_range
        )
        graph = graph.unionByName(lr_scored).dropDuplicates(["src", "dst"])
    if symmetrize_cap is not None:
        graph = _topk_per_key(
            graph.unionByName(
                graph.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    "sim",
                )
            ).dropDuplicates(["src", "dst"]),
            "src",
            symmetrize_cap,
        )
    return graph


#: broadcast the embedding table in hydration joins below this row
#: count (~1 GB of float arrays at 64-dim).  The candidate-pair frame
#: is 100-1000x larger than the vector table (n·k² neighbor-of-
#: neighbor pairs vs n vectors), so a sort-merge join SORTS AND SPILLS
#: the pair frame with two embedding payloads attached — measured at
#: sf10 (r13): ~70+ GB of transient spill per refine round, enough to
#: fill this host's disk, where the broadcast plan streams the pairs
#: map-side with zero shuffle.  Beyond the threshold (vector table no
#: longer fits an executor) the join falls back to SMJ — at that scale
#: a cluster's aggregate disk is the right place for the spill.
_BROADCAST_VECS_MAX = 2_000_000


def _score_and_truncate(
    pairs: DataFrame, vecs: DataFrame, k: int, truncate: bool = True
) -> DataFrame:
    """Score (src, dst) id pairs with cosine via two id-hydration joins
    (embedding side broadcast when it fits — see _BROADCAST_VECS_MAX);
    emit BOTH directions so every node owns a neighbor list."""
    sv = vecs.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("s_emb")
    )
    dv = vecs.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("d_emb")
    )
    if vecs.count() <= _BROADCAST_VECS_MAX:
        sv, dv = F.broadcast(sv), F.broadcast(dv)
    scored = (
        pairs.join(sv, "src")
        .join(dv, "dst")
        .select(
            "src",
            "dst",
            cosine_similarity(F.col("s_emb"), F.col("d_emb")).alias("sim"),
        )
    )
    both = scored.unionByName(
        scored.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "sim"
        )
    ).dropDuplicates(["src", "dst"])
    return _topk_per_key(both, "src", k) if truncate else both


def insert_knn_graph(
    graph: DataFrame,
    emb: DataFrame,
    new_vecs: DataFrame,
    k: int = 8,
    n_tables: int = 6,
    bits: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Incrementally link ``new_vecs`` into an existing kNN graph
    WITHOUT a rebuild (r12 verdict item 7: the IVF store has the full
    streaming append lifecycle; this gives the graph index its
    freshness path).

    HNSW-style bidirectional insert (Malkov & Yashunin §4, expressed
    as joins):

      1. candidates per new vector = a BEAM SEARCH of the existing
         graph with the new vector as query (:func:`knn_graph_search`
         at the corpus-scaled budget — exactly how HNSW acquires
         insertion neighbors).  Search-based acquisition is the
         load-bearing choice: the nodes it returns are BY CONSTRUCTION
         nodes a later query-side beam can navigate to, so the reverse
         edges land where search will actually look.  (The first cut
         used LSH band seeding instead; at 500 near-orthogonal fixture
         rows 10-bit buckets yield ~3 collisions per vector, the links
         landed on mediocre neighbors the beam never visits, and the
         freshly-inserted vector was unfindable — measured red before
         this design.)  A sign-LSH band join among the new batch
         itself supplements (a batch can contain mutual nearest
         neighbors the old graph knows nothing about);
      2. the new node's OUT-edges = exact-cosine top-k of its
         candidates;
      3. every out-edge is mirrored as an IN-edge (existing → new,
         appended, NOT re-truncated): reverse reachability is what
         makes a fresh node findable at all (the r12 symmetrize
         lesson — beam search can only step along out-edges, and a
         brand-new node is in nobody's list).  Appending may push an
         affected node past its degree cap by the number of inserts
         that chose it (expected k·|batch|/n per node); the documented
         cadence is to rebuild with :func:`scaled_build_params` when
         the batch total reaches ~10% of the corpus, restoring the
         capped invariants — same policy as IVF store compaction.

    100 TB shape: per inserted vector the search scores
    O(entries + rounds·beam·degree) candidates (corpus-independent
    once the graph exists) and the batch-internal band join is
    output-bound; the existing graph is never re-shuffled — the union
    is append-only.
    """
    from vector_ai_npm_spark.dedup.embedding_router import (
        sign_lsh_signatures,
    )

    dim = len(emb.select("embedding").first()[0])
    old = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
    new = new_vecs.select("vec_id", "embedding").localCheckpoint(eager=True)
    n = old.count()
    beam, entries, _ = scaled_search_params(n)
    hits = knn_graph_search(
        new.select(
            F.col("vec_id").alias("q_vec_id"),
            F.col("embedding").alias("q_embedding"),
        ),
        old,
        graph,
        k=k,
        beam=beam,
        rounds=scaled_rounds(n),
        n_entries=entries,
    ).select(
        F.col("q_vec_id").alias("src"),
        F.col("vec_id").alias("dst"),
        F.col("similarity").alias("sim"),
    )
    # batch-internal candidates via the build's sign-LSH banding
    lsh_sig = sign_lsh_signatures(dim, n_tables=n_tables, bits=bits, seed=seed)
    nb = new.withColumn("sigs", lsh_sig("embedding")).select(
        "vec_id", F.posexplode("sigs").alias("table", "sig")
    )
    nn = (
        nb.alias("x")
        .join(
            nb.alias("y"),
            (F.col("x.table") == F.col("y.table"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("src"), F.col("y.vec_id").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    sv = new.select(F.col("vec_id").alias("src"), F.col("embedding").alias("s_emb"))
    dv = new.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("d_emb"))
    nn_scored = (
        nn.join(sv, "src")
        .join(dv, "dst")
        .select(
            "src",
            "dst",
            cosine_similarity(F.col("s_emb"), F.col("d_emb")).alias("sim"),
        )
    )
    out_edges = _topk_per_key(
        hits.unionByName(nn_scored).dropDuplicates(["src", "dst"]),
        "src",
        k,
    ).localCheckpoint(eager=True)
    in_edges = out_edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "sim"
    )
    return (
        graph.unionByName(out_edges)
        .unionByName(in_edges)
        .dropDuplicates(["src", "dst"])
    )


def knn_graph_search(
    queries: DataFrame,
    emb: DataFrame,
    graph: DataFrame,
    k: int = 5,
    beam: int = 4,
    rounds: int = 3,
    n_entries: int = 4,
) -> DataFrame:
    """Beam search over a built kNN graph.

    ``queries``: (q_vec_id, q_embedding).  Returns (q_vec_id, vec_id,
    similarity, rank) — top-k of every candidate the beam ever scored.
    Exact-scored candidates per query ≤ n_entries + rounds·beam·k."""
    vecs = emb.select("vec_id", "embedding")
    entries = (
        vecs.orderBy(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("#knng"))),
            "vec_id",
        )
        .limit(n_entries)
        .select("vec_id")
    )
    # hydration joins: broadcast the vector table when it fits so the
    # per-round frontier stays map-side (same rule + rationale as
    # _BROADCAST_VECS_MAX in the build)
    vjoin = (
        F.broadcast(vecs)
        if emb.count() <= _BROADCAST_VECS_MAX
        else vecs
    )
    q = queries.select("q_vec_id", "q_embedding")
    visited = (
        q.crossJoin(F.broadcast(entries))
        .join(vjoin, "vec_id")
        .select(
            "q_vec_id",
            "q_embedding",
            "vec_id",
            cosine_similarity(F.col("q_embedding"), F.col("embedding")).alias(
                "sim"
            ),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        beam_df = _topk_per_key(
            visited.select("q_vec_id", "q_embedding", "vec_id", "sim"),
            "q_vec_id",
            beam,
        )
        frontier = (
            beam_df.join(graph, beam_df.vec_id == graph.src)
            .select("q_vec_id", "q_embedding", F.col("dst").alias("vec_id"))
            .dropDuplicates(["q_vec_id", "vec_id"])
            .join(
                visited.select("q_vec_id", "vec_id"),
                ["q_vec_id", "vec_id"],
                "left_anti",
            )
        )
        scored = frontier.join(vjoin, "vec_id").select(
            "q_vec_id",
            "q_embedding",
            "vec_id",
            cosine_similarity(F.col("q_embedding"), F.col("embedding")).alias(
                "sim"
            ),
        )
        visited = visited.unionByName(scored).localCheckpoint(eager=True)
    ranked = _topk_per_key(visited, "q_vec_id", k)
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    return ranked.select(
        "q_vec_id",
        "vec_id",
        F.col("sim").alias("similarity"),
        F.row_number().over(w).alias("rank"),
    )


# ---------------------------------------------------------------------------
# registry faces (wave 48)
# ---------------------------------------------------------------------------

_ROUNDS = 4
_KG = 12  # graph degree


def scaled_build_params(n: int, k: int | None = None) -> dict:
    """Corpus-scaled BUILD parameters (r12, mirroring the r11
    scaled_search_params / scaled_hash_tables precedent — base
    unchanged at the ≤2k tuning scale so sf0.01/0.1 behavior is
    bit-identical).  The full sf1 study trail is in TUNING.md r12 /
    tools/knng_{build,variants,sym}_study.py; the short version of
    what 20k near-orthogonal vectors taught:

      * ``build_degree = k·(1+decades)`` — NN-descent at the TARGET
        degree stalls (graph recall 0.205 at 20k); a 2× working degree
        during refinement lifts it to 0.674 (0.904 at 3×, with
        diminishing search returns — see symmetrize below).
      * ``refine_rounds`` — +1 round per decade (diameter grows).
      * ``random_tables`` — +2 random-bucket seed tables per decade
        (the classic NN-descent random init; LSH-only seeding confines
        refinement to LSH regions).
      * ``long_range`` — 4 NSW-style random long edges per node per
        decade: a purer kNN graph searches WORSE (0.904-recall graph
        → 2/15 overlap) because all its edges are short; long links
        restore cross-space routing (→ 12/15).
      * ``symmetrize_cap = 2k`` — union reverse edges, re-truncate:
        anti-hubs are unreachable in a directed top-k graph
        (→ 14/15 = (4,5,5), all contract floors green at sf1).
    """
    import math

    from vector_ai_npm_spark.retrieval.scaling import corpus_decades

    k = k if k is not None else _KG
    decades = corpus_decades(n)
    return {
        "refine_rounds": 3 + decades,
        "random_tables": 2 * decades,
        "build_degree": k * (1 + decades),
        "long_range": 4 * decades,
        "symmetrize_cap": 2 * k if decades > 0 else None,
        # seeding bits target ~20 rows/bucket (r12 sf10 catch: fixed
        # bits=10 leaves occupancy ~195 at 200k — the banded seed join
        # emits occupancy² pairs per bucket, the same linear-occupancy
        # blowup the bitext shortlist hit); base 10 at <= 20k pools
        "bits": min(20, max(10, math.ceil(math.log2(max(n, 2) / 20.0)))),
    }


def effective_degree(n: int, k: int | None = None) -> int:
    """Max out-degree of the graph scaled_build_params(n) builds — what
    the recall contract's budget identity must charge per beam hop."""
    k = k if k is not None else _KG
    p = scaled_build_params(n, k)
    if p["symmetrize_cap"] is not None:
        return p["symmetrize_cap"]
    return k + p["long_range"]


def scaled_rounds(n: int) -> int:
    """Beam-search rounds, corpus-scaled (r12 sf10 catch): with graph
    recall ~0.56 at 200k, 4 rounds recovered only 2/15 overlap while
    10 rounds + wider caps recovered 13/15 — hop count, not graph
    quality, was the binding constraint (tools/knng_search_variants /
    TUNING.md r12).  4 rounds at the verified ≤20k scales (sf1
    contract green there), +6 per decade beyond."""
    from vector_ai_npm_spark.retrieval.scaling import corpus_decades

    return 4 + 6 * max(0, corpus_decades(n) - 1)


def scaled_search_params(n: int) -> tuple[int, int, int]:
    """(beam, n_entries, budget): size the beam search so its exact-
    scored candidate count stays within HALF the corpus — the bound the
    IVF-PQ contract face scans at nprobe = nlist/2 — while growing with
    the corpus (the round-8 lesson: fixed ANN budgets starve recall as
    data grows; budgets must scale with what the alternative scans)."""
    budget = n // 2
    # caps grow with the corpus (r11 sf1 catch: the old fixed 12/30
    # caps froze search effort while the corpus grew 10x, collapsing
    # recall to zero on 2 of 3 queries at 20k vectors).  One doubling
    # per decade through the verified ≤20k scales (sf0.01/0.1/sf1
    # parameters bit-identical); beyond that the sf10 measurements set
    # the pace — a doubling per decade starved recall at 200k (2/15 at
    # beam 48/entries 120) while beam 128/entries 2000 recovered 13/15
    # at a third of the candidate budget.
    from vector_ai_npm_spark.retrieval.scaling import corpus_decades

    decades = corpus_decades(n)
    rounds = scaled_rounds(n)
    if decades <= 1:
        beam_cap = 12 * (2**decades)
        entry_cap = 30 * (2**decades)
    else:
        beam_cap = 128 * (4 ** (decades - 2))
        entry_cap = 2000 * (8 ** (decades - 2))
    beam = max(4, min(beam_cap, budget // (rounds * _KG * 2)))
    entries = max(4, min(entry_cap, budget - rounds * beam * _KG))
    return beam, entries, budget


_GRAPH_CACHE = FrameCache()


def _fixture_graph_and_queries(spark, sf_dir):
    from pyspark.sql import functions as F

    from vector_ai_npm_spark.io.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # Cache the built graph per (application, fixture): the search face
    # and the recall contract consume the SAME build, and the build is
    # the dominant cost (66 min at 200k vectors, TUNING.md r12 #7 — a
    # sweep that rebuilds it per face times out forever).
    graph = _GRAPH_CACHE.get(
        spark, sf_dir,
        lambda: build_knn_graph(
            emb, k=_KG, **scaled_build_params(emb.count())
        ).localCheckpoint(eager=True),
    )
    queries = emb.where(F.col("vec_id").isin(0, 7, 42)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    return emb, graph, queries


def _register() -> None:
    from pyspark.sql import DataFrame, SparkSession

    from vector_ai_npm_spark.registry import query

    @query("similarity_search_knn_graph")  # rows-only: graph + beam are
    # model-defined (LSH seeding, NN-descent order); the contract face
    # below is the hash-checked sibling
    def similarity_search_knn_graph(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """B9 graph ANN: NN-descent-built kNN graph + corpus-scaled
        beam search for the 3 fixture queries (module docstring)."""
        emb, graph, queries = _fixture_graph_and_queries(spark, sf_dir)
        n = emb.count()
        beam, entries, _ = scaled_search_params(n)
        # rounds MUST be the scaled value (r13 advice catch: r12 sized
        # beam/entries for scaled_rounds(n) hops but still passed the
        # fixed 4 here — 2/15 at 200k; identical at <=20k where
        # scaled_rounds == _ROUNDS)
        return knn_graph_search(
            queries, emb, graph, k=5, beam=beam, rounds=scaled_rounds(n),
            n_entries=entries,
        )

    @query(
        "knn_graph_recall_contract",
        oracle="""
        SELECT scope, ok FROM (VALUES
          ('q0_overlap3', TRUE), ('q7_overlap3', TRUE),
          ('q42_overlap3', TRUE),
          ('agg_recall_065', TRUE), ('budget_within_ivf_half', TRUE)
        ) t(scope, ok)
        """,
    )
    def knn_graph_recall_contract(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Graph-ANN recall ≥ the IVF-PQ floor at a SMALLER candidate
        budget (the round-9 verdict's item-6 bar): per-query overlap
        vs the hash-green exact top-5 ≥ 3/5 and aggregate ≥ 0.65·Σk —
        the exact floors `vector_ivfpq_recall` pins — plus the budget
        identity: entries + rounds·beam·degree ≤ n/2, what IVF-PQ
        scans at nprobe = nlist/2.  Measured: overlap (5,4,3) agg 12
        at sf0.01 (budget 222 ≤ 250), (5,4,4) agg 13 at sf0.1
        (budget 510 ≤ 1000)."""
        from pyspark.sql import functions as F

        from vector_ai_npm_spark.retrieval.search import similarity_join

        emb, graph, queries = _fixture_graph_and_queries(spark, sf_dir)
        n = emb.count()
        beam, entries, budget = scaled_search_params(n)
        rounds = scaled_rounds(n)
        hits = knn_graph_search(
            queries, emb, graph, k=5, beam=beam, rounds=rounds,
            n_entries=entries,
        ).select("q_vec_id", "vec_id")
        exact = similarity_join(queries, emb, k=5, threshold=-1.0).select(
            "q_vec_id", "vec_id"
        )
        # left-join totality (r11 sf1 catch): a query with ZERO overlap
        # must emit its per-q row as ok=False — the old inner join made
        # it vanish, turning a recall collapse into a row-count mismatch
        # instead of a red boolean
        ov = (
            queries.select("q_vec_id")
            .join(
                exact.join(hits, ["q_vec_id", "vec_id"])
                .groupBy("q_vec_id")
                .agg(F.count(F.lit(1)).alias("n")),
                "q_vec_id",
                "left",
            )
            .select("q_vec_id", F.coalesce("n", F.lit(0)).alias("n"))
            .localCheckpoint(eager=True)
        )
        from vector_ai_npm_spark.retrieval.scaling import recall_floors

        per_q_floor, agg_floor = recall_floors("knn_graph")
        per_q = ov.select(
            F.concat(
                F.lit("q"), F.col("q_vec_id").cast("string"),
                F.lit("_overlap3"),
            ).alias("scope"),
            (F.col("n") >= per_q_floor).alias("ok"),
        )
        agg = ov.agg(
            (F.sum("n").cast("double") >= F.lit(agg_floor * 15)).alias("ok")
        ).select(F.lit("agg_recall_065").alias("scope"), "ok")
        # degree term = the SCALED build's max out-degree (2k once the
        # symmetrized build kicks in at decades >= 1), so the identity
        # charges what a beam hop can actually expand
        spent = entries + rounds * beam * effective_degree(n)
        budget_row = spark.range(1).select(
            F.lit("budget_within_ivf_half").alias("scope"),
            F.lit(bool(spent <= budget)).alias("ok"),
        )
        return per_q.unionByName(agg).unionByName(budget_row)

    @query(
        "knn_graph_insert_contract",
        oracle="""
        SELECT scope, ok FROM (VALUES
          ('v1_self_top1', TRUE), ('v8_self_top1', TRUE),
          ('v43_self_top1', TRUE),
          ('inserted_have_out_edges', TRUE),
          ('inserted_have_in_edges', TRUE)
        ) t(scope, ok)
        """,
    )
    def knn_graph_insert_contract(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Index-freshness contract (r12 verdict item 7): a vector
        inserted via :func:`insert_knn_graph` — NO rebuild — must be
        FINDABLE.  Build the graph on the corpus minus 3 held-out
        vectors, insert them incrementally, then beam-search each
        held-out vector as its own query: it must come back at rank 1
        (sim 1.0 — reachable only through the insert's reverse edges,
        since a fresh node is in nobody's pre-existing list).  Two
        structural rows pin the mechanism: every inserted node has
        out-edges (candidate generation found its neighborhood) and
        in-edges (bidirectional linking landed)."""
        from pyspark.sql import functions as F

        from vector_ai_npm_spark.io.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        held_ids = (1, 8, 43)
        held = emb.where(F.col("vec_id").isin(*held_ids))
        rest = emb.where(~F.col("vec_id").isin(*held_ids))
        n = rest.count()
        graph = build_knn_graph(rest, k=_KG, **scaled_build_params(n))
        graph2 = insert_knn_graph(
            graph, rest, held, k=_KG,
            bits=scaled_build_params(n)["bits"],
        ).localCheckpoint(eager=True)
        allv = rest.unionByName(held)
        queries = held.select(
            F.col("vec_id").alias("q_vec_id"),
            F.col("embedding").alias("q_embedding"),
        )
        beam, entries, _ = scaled_search_params(n)
        hits = knn_graph_search(
            queries, allv, graph2, k=5, beam=beam,
            rounds=scaled_rounds(n), n_entries=entries,
        )
        top1 = hits.where(F.col("rank") == 1).select("q_vec_id", "vec_id")
        per_v = (
            queries.select("q_vec_id")
            .join(top1, "q_vec_id", "left")
            .select(
                F.concat(
                    F.lit("v"), F.col("q_vec_id").cast("string"),
                    F.lit("_self_top1"),
                ).alias("scope"),
                F.coalesce(
                    F.col("vec_id") == F.col("q_vec_id"), F.lit(False)
                ).alias("ok"),
            )
        )
        held_col = F.col("src").isin(*held_ids)
        out_ok = (
            graph2.where(held_col)
            .select("src")
            .distinct()
            .agg((F.count(F.lit(1)) == len(held_ids)).alias("ok"))
            .select(F.lit("inserted_have_out_edges").alias("scope"), "ok")
        )
        in_ok = (
            graph2.where(F.col("dst").isin(*held_ids))
            .select("dst")
            .distinct()
            .agg((F.count(F.lit(1)) == len(held_ids)).alias("ok"))
            .select(F.lit("inserted_have_in_edges").alias("scope"), "ok")
        )
        return per_v.unionByName(out_ok).unionByName(in_ok)


_register()
