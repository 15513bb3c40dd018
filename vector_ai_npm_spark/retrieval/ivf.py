"""IVF (inverted-file) ANN: k-means coarse quantizer + cell-probed search.

The second classic batch-index shape next to LSH (retrieval.lsh), per the
north-star "Batch index build via MLlib":

  1. index build (offline): MLlib KMeans (seed-fixed) fits nlist
     centroids on the store; each vector is assigned to its nearest
     centroid → an index table (cell_id, vec_id, embedding) partitioned
     by cell_id on disk.
  2. query: compute each query's nprobe nearest centroids (a
     centroid-count-sized broadcast problem), then join queries to ONLY
     those cells — the scan shrinks by ~nlist/nprobe.
  3. exact cosine re-rank inside the probed cells, window top-k.

Recall/latency trade is (nlist, nprobe); tests assert ≥0.9 recall vs the
exact top-k on the fixture. Online serving stays out of scope
(BASELINE.json) — this is the batch query path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.functions.vectors import cosine_similarity


# The coarse quantizer trains on AT MOST this many vectors, collected to
# the driver. This is the standard IVF recipe (FAISS trains IVF*
# quantizers on a ~100k-1M sample regardless of corpus size): k-means on
# a representative sample converges to centroids statistically identical
# to full-data training, so the expensive part — assignment — stays a
# single distributed pass while training costs O(sample) on one node.
_TRAIN_SAMPLE_CAP = 65_536


def _train_centroids(X, nlist: int, seed: int, max_iter: int = 12):
    """Driver-side Lloyd k-means (euclidean) on the training sample.

    Deterministic for a fixed (sample, nlist, seed). Distances use the
    ||x||² − 2x·c + ||c||² expansion — one (n × k) GEMM per iteration,
    no (n, k, dim) intermediate. Empty cells reseed from the points
    farthest from their assigned centroid (k-means standard practice,
    keeps exactly nlist non-degenerate cells)."""
    n = len(X)
    k = min(nlist, n)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(n, size=k, replace=False)].copy()
    x2 = (X * X).sum(axis=1)
    for _ in range(max_iter):
        d2 = x2[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        newC = np.zeros_like(C)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        for j in range(X.shape[1]):
            newC[:, j] = np.bincount(assign, weights=X[:, j], minlength=k)
        empty = counts == 0
        if empty.any():
            far = d2[np.arange(n), assign].argsort()[::-1][: int(empty.sum())]
            newC[empty] = X[far]
            counts[empty] = 1.0
        newC /= counts[:, None]
        if np.allclose(newC, C, atol=1e-9):
            C = newC
            break
        C = newC
    return C


def build_ivf_index(store: DataFrame, vec_col: str = "embedding",
                    nlist: int = 16, seed: int = 42):
    """Fit the coarse quantizer and return (assigned_store, centroids_df).

    assigned_store = store + cell_id; centroids_df = (cell_id, centroid)
    — at scale you'd persist assigned_store partitioned by cell_id.

    Two distributed passes total: (1) collect a deterministic hash-based
    sample (xxhash64 of the vector — stable under repartitioning, unlike
    ``df.sample``) and train k-means driver-side; (2) assign every
    vector to its nearest centroid in one Arrow-batched map — the
    centroid matrix (nlist × dim, a few KB) ships inside the UDF
    closure. Replaces MLlib KMeans, whose ~max_iter distributed jobs
    priced a sample-sized problem at corpus scale every index build.
    """
    n = store.count()
    sample = store.select(F.col(vec_col).cast("array<double>").alias("_v"))
    if n > _TRAIN_SAMPLE_CAP:
        # keep ~cap rows: deterministic content-hash filter, no shuffle
        den = -(-n // _TRAIN_SAMPLE_CAP)  # ceil
        sample = sample.where(
            F.pmod(F.xxhash64(F.col("_v")), F.lit(den)) == 0
        )
    X = np.array([r[0] for r in sample.collect()], dtype=np.float64)
    C = _train_centroids(X, nlist=nlist, seed=seed)
    assigned = assign_to_cells(store, C, vec_col=vec_col)
    spark = store.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        ["cell_id", "centroid"],
    )
    # tag the trained matrix on the frame so store.persist_ivf_store can
    # seed its frozen-matrix memo without a read-back job (r14); the
    # parquet round-trip of these doubles is exact, so memo == file
    centroids._ivf_centroid_matrix = [[float(x) for x in c] for c in C]
    return assigned, centroids


def _cell_probe_topk(queries: DataFrame, assigned: DataFrame,
                     centroids: DataFrame, k: int, nprobe: int,
                     q_id: str, q_vec: str, s_vec: str,
                     tiebreak: str) -> DataFrame:
    """The probe half shared by the plain and filtered joins: rank
    centroids per query (queries × nlist is tiny; broadcast NLJ), then
    equi-join queries to ONLY their nprobe nearest cells — the store
    side shuffles on cell_id once (or not at all when pre-partitioned
    by cell_id on disk) — and exact-cosine window top-k inside."""
    cw = Window.partitionBy(q_id).orderBy(
        F.col("c_sim").desc(), F.col("cell_id").asc()
    )
    probed = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn(
            "c_sim", cosine_similarity(F.col(q_vec), F.col("centroid"))
        )
        .withColumn("c_rank", F.row_number().over(cw))
        .where(F.col("c_rank") <= nprobe)
        .select(q_id, q_vec, "cell_id")
    )
    sim = cosine_similarity(F.col(s_vec), F.col(q_vec)).alias("similarity")
    w = Window.partitionBy(q_id).orderBy(
        F.col("similarity").desc(), F.col(tiebreak).asc()
    )
    return (
        assigned.join(probed, "cell_id")
        .select(q_id, tiebreak, sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def ivf_similarity_join(queries: DataFrame, store: DataFrame, k: int = 5,
                        nlist: int = 16, nprobe: int = 4,
                        q_id: str = "q_vec_id", q_vec: str = "q_embedding",
                        s_vec: str = "embedding",
                        tiebreak: str = "vec_id") -> DataFrame:
    """Same output contract as search.similarity_join, scanning only the
    nprobe nearest cells per query instead of the whole store."""
    assigned, centroids = build_ivf_index(store, s_vec, nlist=nlist)
    return _cell_probe_topk(
        queries, assigned, centroids, k, nprobe, q_id, q_vec, s_vec, tiebreak
    )


def ivf_similarity_join_filtered(
    queries: DataFrame, store: DataFrame, predicate, k: int = 5,
    nlist: int = 16, nprobe: int = 4,
    q_id: str = "q_vec_id", q_vec: str = "q_embedding",
    s_vec: str = "embedding", tiebreak: str = "vec_id",
    selectivity: float | None = None,
) -> DataFrame:
    """Wave 50: FILTERED ANN — top-k under a metadata predicate, the
    production vector-search shape (FAISS IDSelector / pgvector WHERE).

    Two scale decisions, both the 100 TB-correct side of the known
    pre-vs-post-filter trade:

      * the predicate is applied INSIDE the probed cells (pre-filter),
        never as a post-filter on an unfiltered top-k — post-filtering
        under-fills k whenever selectivity < 1 and silently biases
        results toward predicate-dense cells.  The index itself stays
        predicate-agnostic (one shared quantizer; filters vary per
        query), and on a parquet-backed cell store the `.where` pushes
        down into the scan, so pruning and filtering compose.
      * nprobe is WIDENED by estimated selectivity — probing the same
        nprobe cells as unfiltered search scans ~sel× fewer candidates
        and recall collapses (the round-8 fixed-budget lesson, third
        appearance).  eff_nprobe = min(nlist, ceil(nprobe / sel)),
        never below the unfiltered nprobe.  Callers that know the
        predicate's selectivity (catalog column stats, a prior call on
        the same store+predicate, or an index-build-time profile) pass
        it via ``selectivity`` and the store is scanned ONCE; only
        when absent does the measuring two-scalar aggregate run — at
        100 TB an extra full-store pass per query would dominate the
        search itself (r10 advice low).
    """
    assigned, centroids = build_ivf_index(store, s_vec, nlist=nlist)
    import math

    if selectivity is not None:
        sel = min(1.0, max(float(selectivity), 1e-9))
    else:
        stats = store.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(predicate, 1).otherwise(0)).alias("n_pass"),
        ).first()
        sel = max(float(stats["n_pass"] or 0) / max(float(stats["n"]), 1.0),
                  1.0 / max(float(stats["n"]), 1.0))
    eff_nprobe = int(min(nlist, max(nprobe, math.ceil(nprobe / sel))))
    return _cell_probe_topk(
        queries, assigned.where(predicate), centroids, k, eff_nprobe,
        q_id, q_vec, s_vec, tiebreak,
    )


def assign_to_cells(
    store: DataFrame, centroids: "list[list[float]]",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to FROZEN centroids (the incremental-append half
    of the index contract: new batches must join existing cells, not
    retrain them — retraining would silently move cell boundaries and
    invalidate every already-written partition).  build_ivf_index
    assigns through it too, with the matrix it just trained."""
    from pyspark.sql.pandas.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    @pandas_udf("int")
    def _nearest_cell(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        d2 = (M * M).sum(axis=1)[:, None] - 2.0 * (M @ C.T) + c2[None, :]
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return store.withColumn(
        "cell_id", _nearest_cell(F.col(vec_col).cast("array<double>"))
    )
