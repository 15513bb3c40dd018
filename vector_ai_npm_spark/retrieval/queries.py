"""Registry entries for retrieval (A7, A8, B9 + LSH scale variant).

Also here: `vector_recall_curve`, `vector_ivf_nlist_sweep`,
`similarity_search_ivf_filtered`, `ivf_filtered_recall_contract`,
`vector_quantize_binary`, `retrieval_late_interaction`,
`retrieval_topk_coverage`, each with its notes in a comment above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.functions.vectors import cosine_similarity, o_cosine
from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query
from vector_ai_npm_spark.retrieval.lsh import ann_similarity_join
from vector_ai_npm_spark.retrieval.scaling import recall_floors
from vector_ai_npm_spark.retrieval.search import (
    project_results,
    similarity_join,
    similarity_search_topk,
)
from functools import reduce

# deterministic query vectors: rows of the embeddings fixture itself
# (FIXTURES.md §3) — guarantees a known self-match at similarity 1.0
_QUERY_IDS = (0, 7, 42)


@query(
    "similarity_search_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 7)
    SELECT e.vec_id, e.label,
           {o_cosine('e.embedding', 'q.q_emb')} AS similarity
    FROM embeddings e CROSS JOIN q
    WHERE {o_cosine('e.embedding', 'q.q_emb')} >= 0.1
    ORDER BY similarity DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def similarity_search_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: pgvector-style threshold+top-k (vector-client.ts:396-415
    semantics) with query vector = embeddings[vec_id=7]."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 7).select("embedding").first()[0]
    return similarity_search_topk(
        emb.select("vec_id", "label", "embedding"), list(qvec),
        threshold=0.1, k=10,
    ).select("vec_id", "label", "similarity")


@query(
    "join_similarity",
    oracle=f"""
    SELECT q.vec_id AS q_vec_id, e.vec_id,
           {o_cosine('e.embedding', 'q.embedding')} AS similarity,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {o_cosine('e.embedding', 'q.embedding')} DESC,
                      e.vec_id ASC) AS BIGINT) AS rank
    FROM embeddings e
    CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id IN (0, 7, 42)) q
    QUALIFY rank <= 5
    """,
)
def join_similarity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: top-5 neighbors for each of 3 query vectors (broadcast NLJ +
    per-query window; see retrieval.search.similarity_join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    return similarity_join(queries, emb, k=5, threshold=0.0).select(
        "q_vec_id", "vec_id", "similarity", "rank"
    )


@query("similarity_search_ann")  # rows-only: LSH bucket assignment is model-defined
def similarity_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 at scale: LSH-pruned candidate join + exact re-rank
    (BucketedRandomProjectionLSH batch index — BASELINE.json north star).
    tests/test_retrieval.py asserts ≥0.9 recall vs the exact top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    return ann_similarity_join(queries, emb, k=5).select(
        "q_vec_id", "vec_id", "similarity", "rank"
    )


def _recall_rows(
    method: str,
    approx: DataFrame,
    exact: DataFrame,
    per_q_floor: int,
    agg_floor: float,
) -> DataFrame:
    """Per-query and aggregate recall-contract rows for one ANN method.

    overlap(q) = |approx_topk(q) ∩ exact_topk(q)|; emits one row per
    query (`scope='q<id>'`, overlap ≥ per_q_floor) plus one aggregate
    row (`scope='all'`, Σoverlap ≥ agg_floor·Σ|exact|).  Everything is
    computed distributed (the per-query sets are k-row frames, but the
    same plan holds at any fan-out of queries)."""
    ap = approx.select("q_vec_id", "vec_id")
    ex = exact.select("q_vec_id", "vec_id")
    ov = ex.join(ap, ["q_vec_id", "vec_id"]).groupBy("q_vec_id").agg(
        F.count(F.lit(1)).alias("overlap")
    )
    base = (
        ex.groupBy("q_vec_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(ov, "q_vec_id", "left")
        .select(
            "q_vec_id",
            "n_exact",
            F.coalesce("overlap", F.lit(0)).alias("overlap"),
        )
    )
    per_q = base.select(
        F.lit(method).alias("method"),
        F.concat(F.lit("q"), F.col("q_vec_id").cast("string")).alias("scope"),
        (F.col("overlap") >= F.lit(per_q_floor)).alias("recall_ok"),
    )
    agg = base.agg(
        (
            F.sum("overlap").cast("double")
            >= F.lit(agg_floor) * F.sum("n_exact").cast("double")
        ).alias("recall_ok")
    ).select(
        F.lit(method).alias("method"),
        F.lit("all").alias("scope"),
        "recall_ok",
    )
    return per_q.unionByName(agg)


@query(
    "ann_recall_vs_exact",
    oracle="""
    SELECT method, scope, recall_ok FROM (VALUES
      ('lsh', 'q0', TRUE), ('lsh', 'q7', TRUE), ('lsh', 'q42', TRUE),
      ('lsh', 'all', TRUE),
      ('ivf_full', 'q0', TRUE), ('ivf_full', 'q7', TRUE),
      ('ivf_full', 'q42', TRUE), ('ivf_full', 'all', TRUE),
      ('ivf_half', 'q0', TRUE), ('ivf_half', 'q7', TRUE),
      ('ivf_half', 'q42', TRUE), ('ivf_half', 'all', TRUE)
    ) t(method, scope, recall_ok)
    """,
)
def ann_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN trio's recall contract as a driver-checkable row set.

    The approximate paths (`similarity_search_ann`, `similarity_search_ivf`)
    are rows-only by construction — bucket/cell assignment is
    model-defined — but their CONTRACT vs the hash-green exact top-k is
    deterministic on a fixed fixture, so it is emitted here as boolean
    rows the DuckDB oracle pins to TRUE:

      * lsh       — per-query overlap ≥ 4/5 (0.8k), aggregate ≥ 0.9
                    (the SURVEY §5.2 recall bar)
      * ivf_full  — nprobe = nlist: the probe machinery must EQUAL brute
                    force (5/5 per query, aggregate 1.0)
      * ivf_half  — nprobe = nlist/2 on a uniform-random (ANN-hostile)
                    fixture: ≥ 3/5 per query, aggregate ≥ 0.65 — the
                    floor that separates pruned search from chance

    Any recall regression in the LSH bands, the IVF quantizer, or the
    probe logic flips a row to false → hash mismatch → red driver row.
    Mirrors tests/test_retrieval.py:34,50 into the driver gate."""
    from vector_ai_npm_spark.retrieval.ivf import ivf_similarity_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    exact = similarity_join(queries, emb, k=5, threshold=0.0)
    lsh = ann_similarity_join(queries, emb, k=5)
    ivf_full = ivf_similarity_join(queries, emb, k=5, nlist=8, nprobe=8)
    ivf_half = ivf_similarity_join(queries, emb, k=5, nlist=8, nprobe=4)
    return (
        _recall_rows("lsh", lsh, exact, *recall_floors("lsh"))
        .unionByName(
            _recall_rows("ivf_full", ivf_full, exact,
                         *recall_floors("ivf_full"))
        )
        .unionByName(
            _recall_rows("ivf_half", ivf_half, exact,
                         *recall_floors("ivf_half"))
        )
    )


@query("mmr_rerank")  # rows-only: greedy selection is iterative, not SQL
def mmr_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9+: MMR diversity re-rank (λ=0.7) of the exact top-20 candidates
    down to 5 per query — the distributed two-stage diverse-retrieval
    shape (see retrieval.mmr). Its full contract vs the hash-green
    exact top-k is driver-checked by `mmr_contract`."""
    from vector_ai_npm_spark.retrieval.mmr import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    return mmr_rerank(queries, emb, k=5, k_candidates=20, lam=0.7)


@query(
    "mmr_contract",
    oracle="""
    SELECT method, scope, ok FROM (VALUES
      ('mmr_lambda1', 'q0', TRUE), ('mmr_lambda1', 'q7', TRUE),
      ('mmr_lambda1', 'q42', TRUE),
      ('mmr_diverse', 'q0', TRUE), ('mmr_diverse', 'q7', TRUE),
      ('mmr_diverse', 'q42', TRUE)
    ) t(method, scope, ok)
    """,
)
def mmr_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR's selection machinery as oracle-pinnable booleans:

      * λ=1 degenerates MMR to pure relevance, so its output must equal
        the exact top-5 ranking position-for-position — a COMPLETE
        equivalence gate on candidate plumbing, tiebreaks, and the
        greedy loop, anchored to the hash-green `join_similarity`.
      * at λ=0.7: exactly k distinct picks, rank 1 = exact top-1, and
        mmr_score non-increasing (greedy max over a pointwise-shrinking
        objective). Any regression flips a row → hash mismatch."""
    from vector_ai_npm_spark.retrieval.mmr import mmr_contract_rows, mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    cand = mmr_rerank(queries, emb, k=5, k_candidates=20, lam=0.7)
    l1 = mmr_rerank(queries, emb, k=5, k_candidates=20, lam=1.0)
    exact = similarity_join(queries, emb, k=5, threshold=-1.0)
    return mmr_contract_rows(cand, l1, exact, k=5, query_ids=_QUERY_IDS)


@query(
    "vector_quantize_pq",
    oracle="""
    SELECT scope, ok FROM (VALUES
      ('m_codes_per_vec', TRUE), ('codes_in_range', TRUE),
      ('compression_32x', TRUE), ('recon_mean_floor', TRUE),
      ('recon_min_floor', TRUE), ('recon_beats_rank0', TRUE),
      ('adc_self_top1', TRUE)
    ) t(scope, ok)
    """,
)
def vector_quantize_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (retrieval.pq) as oracle-pinnable booleans —
    the 32× ANN memory-compression path (FAISS IVF-PQ's second stage):

      * every vector gets exactly m=8 codes, each in [0, ksub=16)
      * compression is 32× by construction (dim×4 bytes → m bytes),
        derived from the DATA (size(embedding), size(codes)), not
        constants
      * mean/min reconstruction cosine ≥ 0.6 / 0.4 on the
        uniform-random (quantization-hostile) fixture — measured
        0.676 / 0.563; and the mean must beat the rank-0 baseline
        (cosine to the global mean vector ≈ 0.05 here), the floor that
        separates a trained codebook from a degenerate one
      * ADC search (lookup-table distance over CODES, no decode) must
        put the query's own row at rank 1 — quantization error is
        shared, so self-distance stays minimal

    Training is the capped deterministic hash-sample + driver Lloyd
    recipe (retrieval/ivf.py); encoding and ADC are single Arrow
    passes, so every boolean is stable per fixture."""
    from vector_ai_npm_spark.retrieval.pq import (
        pq_adc_search,
        pq_encode,
        train_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq(emb, m=8, ksub=16)
    enc = pq_encode(emb, books).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    qvec = list(emb.where(F.col("vec_id") == 7).select("embedding").first()[0])
    adc_self = (
        pq_adc_search(pq_encode(emb, books), books, qvec, k=1)
        .agg(F.bool_and(F.col("vec_id") == 7).alias("ok"))
        .select(F.lit("adc_self_top1").alias("scope"), "ok")
    )
    # rank-0 baseline: cosine of each vector to the global mean vector,
    # computed distributed via a broadcast 1-row per-dim decimal mean

    mean_vec = (
        emb.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg((F.sum(F.col("x").cast("decimal(30,8)")) / F.count(F.lit(1)))
             .cast("double").alias("mu"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("i", "mu"))).alias("s"))
        .select(F.transform("s", lambda e: e["mu"]).alias("mean_vec"))
    )
    rank0 = (
        emb.crossJoin(F.broadcast(mean_vec))
        .select(cosine_similarity(F.col("embedding"), F.col("mean_vec")).alias("c0"))
        .agg(F.avg("c0").alias("mean_c0"))
    )
    agg = (
        enc.crossJoin(F.broadcast(rank0))
        .agg(
            F.bool_and(F.size("codes") == 8).alias("m_ok"),
            F.bool_and(
                (F.array_min("codes") >= 0) & (F.array_max("codes") < 16)
            ).alias("range_ok"),
            F.bool_and(
                F.size("embedding") * 4 == F.size("codes") * 32
            ).alias("comp_ok"),
            (F.avg("recon_cos") >= 0.6).alias("mean_ok"),
            (F.min("recon_cos") >= 0.4).alias("min_ok"),
            (F.avg("recon_cos") > F.first("mean_c0")).alias("beats_rank0"),
        )
    )
    rows = agg.select(
        F.explode(
            F.array(
                F.struct(F.lit("m_codes_per_vec").alias("scope"), F.col("m_ok").alias("ok")),
                F.struct(F.lit("codes_in_range").alias("scope"), F.col("range_ok").alias("ok")),
                F.struct(F.lit("compression_32x").alias("scope"), F.col("comp_ok").alias("ok")),
                F.struct(F.lit("recon_mean_floor").alias("scope"), F.col("mean_ok").alias("ok")),
                F.struct(F.lit("recon_min_floor").alias("scope"), F.col("min_ok").alias("ok")),
                F.struct(F.lit("recon_beats_rank0").alias("scope"), F.col("beats_rank0").alias("ok")),
            )
        ).alias("r")
    ).select("r.scope", "r.ok")
    return rows.unionByName(adc_self)


@query("similarity_search_ivfpq")  # rows-only: cell/code assignment is model-defined
def similarity_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 at scale, variant 3: the full FAISS IVF-PQ pipeline — cell
    pruning → ADC code shortlist (8-byte rows) → exact re-rank of the
    shortlist only (see retrieval.pq.ivfpq_search). Recall contract
    driver-checked by `ivfpq_recall`."""
    from vector_ai_npm_spark.retrieval.pq import ivfpq_search

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 7).select("embedding").first()[0])
    return ivfpq_search(emb, qvec, k=5, nlist=8, nprobe=4).select(
        "vec_id", "cell_id", "similarity", "rank"
    )


@query(
    "ivfpq_recall",
    oracle="""
    SELECT scope, ok FROM (VALUES
      ('q0_self_top1', TRUE), ('q7_self_top1', TRUE), ('q42_self_top1', TRUE),
      ('q0_overlap3', TRUE), ('q7_overlap3', TRUE), ('q42_overlap3', TRUE),
      ('agg_recall_065', TRUE)
    ) t(scope, ok)
    """,
)
def ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's recall contract vs the hash-green exact top-k, pinned as
    booleans (measured 3/5, 4/5, 4/5 on the uniform-random fixture at
    nprobe = nlist/2 with a 4k ADC shortlist — the self row always at
    rank 1 because quantization error is shared):

      * per query: own row at rank 1, overlap ≥ 3/5 (the ivf_half
        chance-vs-pruning floor)
      * aggregate: Σoverlap ≥ 0.65 · Σk

    A regression in the PQ codebooks, ADC table, cell probe, or
    re-rank flips a row → hash mismatch → red driver row."""
    from pyspark import StorageLevel

    from vector_ai_npm_spark.retrieval.pq import (
        build_ivfpq_index,
        ivfpq_search_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE index build amortized across all three searches (the
    # workload shape build_ivfpq_index exists for) — persisted so the
    # per-query probes re-read codes, not re-quantize the corpus
    index, cents, books, cell_counts = build_ivfpq_index(emb, nlist=8)
    index = index.persist(StorageLevel.MEMORY_AND_DISK)
    out = []
    total_overlap = None
    for qid in _QUERY_IDS:
        qvec = list(
            emb.where(F.col("vec_id") == qid).select("embedding").first()[0]
        )
        hits = ivfpq_search_index(
            index, cents, books, emb, qvec, k=5, nprobe=4,
            cell_counts=cell_counts,
        )
        exact = similarity_search_topk(
            emb.select("vec_id", "embedding"), qvec, threshold=-1.0, k=5
        ).select(F.col("vec_id").alias("e_vec_id"))
        ov = hits.join(exact, hits.vec_id == F.col("e_vec_id")).agg(
            F.count(F.lit(1)).alias("n")
        )
        self_ok = hits.where(
            (F.col("rank") == 1) & (F.col("vec_id") == qid)
        ).agg((F.count(F.lit(1)) == 1).alias("ok")).select(
            F.lit(f"q{qid}_self_top1").alias("scope"), "ok"
        )
        ov_ok = ov.select(
            F.lit(f"q{qid}_overlap3").alias("scope"),
            (F.col("n") >= 3).alias("ok"),
        )
        out.append(self_ok.unionByName(ov_ok))
        total_overlap = ov if total_overlap is None else total_overlap.unionByName(ov)
    agg = total_overlap.agg(
        (F.sum("n").cast("double") >= F.lit(0.65 * 15)).alias("ok")
    ).select(F.lit("agg_recall_065").alias("scope"), "ok")
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.unionByName(agg)


@query(
    "result_project",
    oracle="""
    SELECT doc_id, n_chars,
           trim(text) AS content,
           json_object('doc_id', doc_id, 'lang', lang, 'source', source)
             AS metadata
    FROM documents
    """,
)
def result_project_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: trimmed content + metadata-as-JSON result shaping
    (vector-client.ts:411-412)."""
    docs = load_table(spark, sf_dir, "documents")
    return project_results(
        docs.select("doc_id", "n_chars", "lang", "source",
                    F.col("text").alias("content")),
        content_col="content",
        metadata_cols=("doc_id", "lang", "source"),
        keep_cols=("doc_id", "n_chars"),
    )


@query("similarity_search_ivf")  # rows-only: cell assignment is model-defined
def similarity_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 at scale, variant 2: IVF (k-means coarse quantizer, nprobe
    cell-probed search) — see retrieval.ivf. tests/test_retrieval.py
    asserts ≥0.9 recall vs the exact top-k."""
    from vector_ai_npm_spark.retrieval.ivf import ivf_similarity_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    return ivf_similarity_join(queries, emb, k=5, nlist=8, nprobe=4).select(
        "q_vec_id", "vec_id", "similarity", "rank"
    )


@query(
    "ivf_store_recall",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS k, TRUE AS self_rank1_ok, TRUE AS recall_ok
    FROM (VALUES (1)) t(x)
    """,
)
def ivf_store_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF store's search contract as a driver-checkable
    row: (a) the query vector's own row must surface at rank 1 with
    similarity ≈ 1 (the query's cell is always probed — it IS the
    nearest centroid), and (b) top-k overlap vs the hash-green exact
    top-k must be ≥ 3/5 at nprobe = nlist/2 on the uniform-random
    (ANN-hostile) fixture — the floor separating cell-pruned search
    from chance. Store build + search are deterministic (seeded
    quantizer), so both booleans are stable per fixture."""
    import tempfile

    from vector_ai_npm_spark.retrieval.store import (
        persist_ivf_store,
        search_ivf_store,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 7).select("embedding").first()[0])
    store_dir = tempfile.mkdtemp(prefix="ivf_recall_")
    persist_ivf_store(emb, store_dir, nlist=8)
    hits = search_ivf_store(spark, store_dir, qvec, k=5, nprobe=4).select(
        "vec_id", "similarity", "rank"
    )
    exact = similarity_search_topk(
        emb.select("vec_id", "embedding"), qvec, threshold=-1.0, k=5
    ).select(F.col("vec_id").alias("e_vec_id"))
    overlap = hits.join(
        exact, hits.vec_id == F.col("e_vec_id"), "inner"
    ).agg(F.count(F.lit(1)).alias("n_overlap"))
    self_ok = hits.where(
        (F.col("rank") == 1)
        & (F.col("vec_id") == 7)
        & (F.col("similarity") >= 0.999999)
    ).agg(F.count(F.lit(1)).alias("n_self"))
    return overlap.join(self_ok, how="cross").select(
        F.lit(5).cast("long").alias("k"),
        (F.col("n_self") == 1).alias("self_rank1_ok"),
        (F.col("n_overlap") >= 3).alias("recall_ok"),
    )


@query("vector_store_ivf")  # rows-only: cell assignment is model-defined
def vector_store_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 at-rest layout: build the cell-PARTITIONED on-disk store, then
    answer a top-k search by reading only the probed cell directories
    (partition pruning; plan pinned in tests/test_retrieval.py). The
    query vector is embeddings[vec_id=7], so the self-match must
    surface at rank 1 whenever cell 7 is probed (it always is — the
    query's own cell is its nearest centroid)."""
    import tempfile

    from vector_ai_npm_spark.retrieval.store import (
        persist_ivf_store,
        search_ivf_store,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 7).select("embedding").first()[0])
    store_dir = tempfile.mkdtemp(prefix="ivf_store_")
    persist_ivf_store(emb, store_dir, nlist=8)
    return search_ivf_store(spark, store_dir, qvec, k=5, nprobe=4).select(
        "vec_id", "cell_id", "similarity", "rank"
    )


@query(
    "vector_pca_project",
    oracle="""
    SELECT scope, ok FROM (VALUES
      ('k_components', TRUE), ('orthonormal', TRUE),
      ('variance_ordered', TRUE), ('variance_floor', TRUE),
      ('proj_rows', TRUE), ('proj_dim', TRUE)
    ) t(scope, ok)
    """,
)
def vector_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality reduction for the vector store — MLlib PCA (the
    north-star 'batch index build via MLlib'), 64 → 8 dims, as
    oracle-pinnable booleans. PCA-rotating before quantization is the
    OPQ recipe (Ge et al., CVPR 2013): decorrelated subspaces make the
    PQ codebooks in retrieval.pq strictly better.

      * k_components / proj_dim / proj_rows — the fitted basis is
        exactly k=8 vectors of dim 64 and every store row projects to
        an 8-dim vector (no rows dropped);
      * orthonormal — Pᵀ·P = I within 1e-6 (checked on the model's
        k×64 basis, a driver-scale matrix by construction);
      * variance_ordered — explained-variance ratios non-increasing
        and positive (the eigen-order contract);
      * variance_floor — Σ explained ≥ k/dim: the top-k eigenvectors
        must capture at least the isotropic share, the floor that
        separates a fitted basis from an arbitrary one.

    Train cost is one distributed covariance (O(dim²) state) + a
    driver-side eigendecomposition of the 64×64 Gramian — corpus-size
    independent, the same sample-vs-assign split as IVF/PQ training."""
    import numpy as np
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = MLPCA(k=8, inputCol="features", outputCol="pca").fit(vecs)
    P = model.pc.toArray()  # (dim, k)
    gram = P.T @ P
    ortho = bool(np.allclose(gram, np.eye(P.shape[1]), atol=1e-6))
    ev = np.asarray(model.explainedVariance)
    ordered = bool(np.all(np.diff(ev) <= 1e-12) and np.all(ev > 0))
    floor = bool(ev.sum() >= P.shape[1] / P.shape[0])
    proj = model.transform(vecs)
    stats = proj.select(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size(vector_to_array(F.col("pca")))).alias("dmin"),
        F.max(F.size(vector_to_array(F.col("pca")))).alias("dmax"),
    ).crossJoin(emb.agg(F.count(F.lit(1)).alias("n_in")))
    flags = stats.select(
        F.lit(P.shape[1] == 8).alias("k_components"),
        F.lit(ortho).alias("orthonormal"),
        F.lit(ordered).alias("variance_ordered"),
        F.lit(floor).alias("variance_floor"),
        (F.col("n") == F.col("n_in")).alias("proj_rows"),
        ((F.col("dmin") == 8) & (F.col("dmax") == 8)).alias("proj_dim"),
    )
    return flags.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("scope"), F.col(s).alias("ok"))
                    for s in (
                        "k_components", "orthonormal", "variance_ordered",
                        "variance_floor", "proj_rows", "proj_dim",
                    )
                ]
            )
        ).alias("r")
    ).select("r.scope", "r.ok")


@query(
    "mine_hard_negatives",
    oracle=f"""
    SELECT q.vec_id AS q_vec_id, q.label AS q_label,
           e.vec_id AS neg_vec_id, e.label AS neg_label,
           {o_cosine('e.embedding', 'q.embedding')} AS similarity,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {o_cosine('e.embedding', 'q.embedding')} DESC,
                      e.vec_id ASC) AS BIGINT) AS rank
    FROM embeddings e
    CROSS JOIN (SELECT vec_id, label, embedding FROM embeddings
                WHERE vec_id IN (0, 7, 42)) q
    WHERE e.label <> q.label
    QUALIFY rank <= 3
    """,
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9+: HARD-NEGATIVE MINING — for each anchor vector, the top-3
    most-similar vectors with a DIFFERENT label. The contrastive-
    training data op (triplet/InfoNCE fine-tuning wants negatives that
    are hard — near the anchor in embedding space — not random): rank
    by cosine among cross-label candidates only.

    Plan: same broadcast-NLJ + per-anchor window shape as
    `join_similarity`, with the label-exclusion predicate applied
    BEFORE the window so same-label rows never hold a rank slot. At
    corpus scale the anchor side is a batch of training queries
    (broadcast by contract) and the store side routes through the same
    IVF/LSH ANN machinery as `similarity_search_ann` — mine against
    the candidate shortlist, exactly like production hard-negative
    pipelines; the brute-force face here is the oracle-checkable
    ground truth the ANN route's recall is measured against."""


    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_embedding"),
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("similarity").desc(), F.col("neg_vec_id").asc()
    )
    return (
        emb.crossJoin(F.broadcast(anchors))
        .where(F.col("label") != F.col("q_label"))
        .select(
            "q_vec_id",
            "q_label",
            F.col("vec_id").alias("neg_vec_id"),
            F.col("label").alias("neg_label"),
            cosine_similarity(F.col("embedding"), F.col("q_embedding")).alias(
                "similarity"
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
    )


# --------------------------------------------------------------------------
# North-star: retrieval-quality evaluation (recall@k / MRR / nDCG)
# --------------------------------------------------------------------------

import math as _math

_EVAL_K = 10
# log2 discounts embedded as identical full-precision literals in BOTH
# engines: in-engine log() is correctly rounded differently per libm
# (the text_tfidf 1-ulp lesson), a Python-computed literal is one bit
# pattern everywhere. _EVAL_IDCG[m] = sum of the first m discounts,
# folded left in Python — the same order the engines fold dcg.
_EVAL_DISCOUNTS = [1.0 / _math.log2(i + 1) for i in range(1, _EVAL_K + 1)]
_EVAL_IDCG = []
_acc = 0.0
for _d in _EVAL_DISCOUNTS:
    _acc = _acc + _d
    _EVAL_IDCG.append(_acc)

# EXACT decimal expansion, not shortest repr: DuckDB's string→DOUBLE
# parse is not correctly rounded (round-9 audit measured 2 of these 20
# shortest reprs landing 1 ulp off — 0.38685280723454163 and
# 2.5616063116448506).  A double's exact expansion is finite (dyadic)
# and parses exactly in both engines; pinned by
# tests/test_ledger_properties.py::test_exact_expansion_literals_parse_exactly.
from decimal import Decimal as _Dec


def _exact_double_literal(v: float) -> str:
    return f"CAST('{format(_Dec(v), 'f')}' AS DOUBLE)"


_O_DISC = ", ".join(_exact_double_literal(d) for d in _EVAL_DISCOUNTS)
_O_IDCG = ", ".join(_exact_double_literal(c) for c in _EVAL_IDCG)


@query(
    "retrieval_eval_ndcg",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS q_vec_id, label AS q_label, emb AS q_emb
          FROM e WHERE vec_id IN (0, 7, 42)),
    s AS (SELECT q.q_vec_id,
                 CASE WHEN e.label = q.q_label THEN 1 ELSE 0 END AS rel,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.q_vec_id
                   ORDER BY {o_cosine('e.emb', 'q.q_emb')} DESC,
                            e.vec_id) AS rank
          FROM e CROSS JOIN q
          WHERE e.vec_id <> q.q_vec_id),
    g AS (SELECT q_vec_id,
                 CAST(SUM(rel) AS BIGINT) AS n_rel,
                 CAST(SUM(CASE WHEN rank <= {_EVAL_K} THEN rel ELSE 0 END)
                      AS BIGINT) AS hits_at_k,
                 MIN(CASE WHEN rank <= {_EVAL_K} AND rel = 1
                          THEN rank END) AS first_rel,
                 list(CASE WHEN rel = 1 THEN ([{_O_DISC}])[rank]
                           ELSE CAST(0.0 AS DOUBLE) END ORDER BY rank)
                   FILTER (WHERE rank <= {_EVAL_K}) AS terms
          FROM s GROUP BY q_vec_id)
    SELECT q_vec_id, n_rel, hits_at_k,
           CAST(hits_at_k AS DOUBLE) / CAST(n_rel AS DOUBLE) AS recall_at_k,
           COALESCE(CAST(1.0 AS DOUBLE) / CAST(first_rel AS DOUBLE),
                    CAST(0.0 AS DOUBLE)) AS rr,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms),
                       (acc, v) -> acc + v)
             / ([{_O_IDCG}])[LEAST(n_rel, {_EVAL_K})] AS ndcg_at_k
    FROM g
    """,
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star retrieval evaluation: recall@10, reciprocal rank, and
    nDCG@10 per query against label-match relevance — the offline
    metrics harness every RAG/embedding deployment runs before swapping
    retrievers (the reference exposes retrieval but no eval surface;
    this closes that loop over its own similarity ranking).

    dcg folds the rank-ordered top-k terms left-to-right (array_sort +
    aggregate == DuckDB list ORDER BY rank + list_reduce), and the
    discount table is a Python-computed literal so no in-engine log()
    enters the hash. Scale: the query batch broadcasts (3 rows here,
    thousands in production), candidates rank per-query via one window
    — per-query state is top-k only.
    """

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = emb.where(F.col("vec_id").isin(0, 7, 42)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("q_emb"),
    )

    cand = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_vec_id"))
        .withColumn("sim", cosine_similarity(F.col("emb"), F.col("q_emb")))
        .withColumn(
            "rel", (F.col("label") == F.col("q_label")).cast("int")
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    ranked = cand.withColumn("rank", F.row_number().over(w))
    disc = F.array(*[F.lit(d) for d in _EVAL_DISCOUNTS])
    idcg = F.array(*[F.lit(c) for c in _EVAL_IDCG])
    term = F.when(F.col("rel") == 1, F.element_at(disc, F.col("rank"))).otherwise(
        F.lit(0.0)
    )
    g = ranked.groupBy("q_vec_id").agg(
        F.sum("rel").alias("n_rel"),
        F.sum(F.when(F.col("rank") <= _EVAL_K, F.col("rel")).otherwise(0))
        .alias("hits_at_k"),
        F.min(
            F.when((F.col("rank") <= _EVAL_K) & (F.col("rel") == 1),
                   F.col("rank"))
        ).alias("first_rel"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("rank") <= _EVAL_K,
                    F.struct(F.col("rank").alias("rank"), term.alias("term")),
                )
            )
        ).alias("terms"),
    )
    dcg = F.aggregate(
        F.transform(F.col("terms"), lambda s: s["term"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return g.select(
        "q_vec_id",
        F.col("n_rel").cast("long").alias("n_rel"),
        F.col("hits_at_k").cast("long").alias("hits_at_k"),
        (F.col("hits_at_k").cast("double") / F.col("n_rel").cast("double"))
        .alias("recall_at_k"),
        F.coalesce(
            F.lit(1.0) / F.col("first_rel").cast("double"), F.lit(0.0)
        ).alias("rr"),
        (dcg / F.element_at(idcg, F.least(F.col("n_rel"), F.lit(_EVAL_K))
                            .cast("int"))).alias("ndcg_at_k"),
    )


# `vector_recall_curve` — the (nprobe → recall@k) curve that tunes
# the IVF cost/recall knob (FAISS's nprobe sweep as a first-class
# operator): recall@5 vs the exact top-k for the 3 standard query
# vectors at nprobe ∈ 1, 2, 4, 8 with nlist = 8.  Cell assignment is
# model-defined, so per-level recalls ride pytest (exact numbers
# asserted there); the DRIVER face pins what IS invariant:
# monotonicity in nprobe (probing more cells can only add candidates)
# and the full-probe identity — nprobe = nlist scans every cell, so
# recall@5 is EXACTLY 15/15 (the `ivf_store_recall` contract style).
#
# Scale shape: the recall curve's store side is the IVF contract
# (centroid assignment one pass, probe scan ~nprobe/nlist of the
# store).

_K = 5
_NLIST = 8
_PROBES = (1, 2, 4, 8)


@query(
    "vector_recall_curve",
    oracle=f"""
    SELECT CAST({len(_PROBES)} AS BIGINT) AS n_levels,
           CAST({_K} AS BIGINT) AS k,
           CAST({len(_QUERY_IDS)} AS BIGINT) AS n_queries,
           TRUE AS monotone_ok,
           CAST({_K * len(_QUERY_IDS)} AS BIGINT) AS full_probe_num,
           CAST({_K * len(_QUERY_IDS)} AS BIGINT) AS full_probe_den
    """,
)
def vector_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe sweep contract — see the notes above.  The seeded
    quantizer makes every level deterministic; the full-probe level
    (nprobe = nlist) must reproduce the exact top-k verbatim, and
    overlap counts must be non-decreasing in nprobe."""
    from vector_ai_npm_spark.retrieval.ivf import ivf_similarity_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    # exact top-k per query (the reference set; self-match included on
    # both sides, so the comparison is like-for-like)
    cand = emb.crossJoin(F.broadcast(queries))
    w = Window.partitionBy("q_vec_id").orderBy(
        cosine_similarity(
            F.col("embedding").cast("array<double>"),
            F.col("q_embedding").cast("array<double>"),
        ).desc(),
        F.col("vec_id").asc(),
    )
    exact = (
        cand.select("q_vec_id", "vec_id", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= _K)
        .select(
            F.col("q_vec_id").alias("e_q"), F.col("vec_id").alias("e_v")
        )
    )
    levels = []
    for p in _PROBES:
        hits = ivf_similarity_join(
            queries, emb, k=_K, nlist=_NLIST, nprobe=p
        ).select("q_vec_id", "vec_id")
        overlap = hits.join(
            exact,
            (hits.q_vec_id == exact.e_q) & (hits.vec_id == exact.e_v),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        levels.append(
            overlap.select(
                F.lit(p).cast("bigint").alias("nprobe"), "n_hits"
            )
        )
    curve = reduce(lambda a, b: a.unionByName(b), levels)
    wlag = Window.orderBy("nprobe")  # 4-row frame: bounded by construction
    folded = curve.select(
        "nprobe",
        "n_hits",
        F.lag("n_hits").over(wlag).alias("prev_hits"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_levels"),
        F.min(
            F.when(F.col("prev_hits").isNull(), True).otherwise(
                F.col("n_hits") >= F.col("prev_hits")
            )
        ).alias("monotone_ok"),
        F.max(F.when(F.col("nprobe") == _NLIST, F.col("n_hits")))
        .cast("bigint")
        .alias("full_probe_num"),
    )
    return folded.select(
        "n_levels",
        F.lit(_K).cast("bigint").alias("k"),
        F.lit(len(_QUERY_IDS)).cast("bigint").alias("n_queries"),
        "monotone_ok",
        "full_probe_num",
        F.lit(_K * len(_QUERY_IDS)).cast("bigint").alias("full_probe_den"),
    )


# `vector_ivf_nlist_sweep` — the second axis of the FAISS tuning pair
# (wave 27's `vector_recall_curve` swept nprobe at fixed nlist; this
# sweeps nlist at fixed nprobe=2): the scan-cost / recall trade-off that
# drives the ONE index parameter every deployment must choose.  Measured
# on the fixture (sf0.01 → sf0.1): scanned candidates fall 1500→179 /
# 6000→725 as nlist doubles 2→16 while top-5 overlap falls 15→7 / 15→5 —
# the canonical "finer partitions scan less and miss more at fixed
# probes" curve.
#
# Contract pinned (deterministic — seeded quantizer): 4 levels; at
# nlist = nprobe = 2 every cell is probed so hits ≡ the exact top-k
# VERBATIM (15/15); scanned-candidate counts strictly decreasing in
# nlist; overlap non-increasing in nlist; and the worst level stays at
# or above the measured floor (≥ 5/15 — a regression in training,
# assignment, or probe routing shows up as a floor break or a
# monotonicity flip).
#
# Scale shape: per level one index build + a 3-probe partition-pruned
# scan; the sweep is how a deployment sizes nlist BEFORE building the
# at-rest store (persist_ivf_store), after which cost is locked in by
# layout.

_NPROBE = 2
_NLISTS = (2, 4, 8, 16)
_FLOOR = 5  # measured min overlap (nlist=16 at sf0.1); see docstring


@query(
    "vector_ivf_nlist_sweep",
    oracle=f"""
    SELECT CAST({len(_NLISTS)} AS BIGINT) AS n_levels,
           CAST({_K} AS BIGINT) AS k,
           CAST({len(_QUERY_IDS)} AS BIGINT) AS n_queries,
           CAST({_K * len(_QUERY_IDS)} AS BIGINT) AS full_cover_hits,
           TRUE AS scan_monotone_ok,
           TRUE AS recall_monotone_ok,
           TRUE AS floor_ok
    """,
)
def vector_ivf_nlist_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nlist sweep contract — see the notes above."""
    from vector_ai_npm_spark.retrieval.ivf import (
        build_ivf_index,
        ivf_similarity_join,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        cosine_similarity(
            F.col("embedding").cast("array<double>"),
            F.col("q_embedding").cast("array<double>"),
        ).desc(),
        F.col("vec_id").asc(),
    )
    exact = (
        emb.crossJoin(F.broadcast(queries))
        .select("q_vec_id", "vec_id", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= _K)
        .select(
            F.col("q_vec_id").alias("e_q"), F.col("vec_id").alias("e_v")
        )
    )
    levels = []
    for nlist in _NLISTS:
        assigned, centroids = build_ivf_index(
            emb, "embedding", nlist=nlist
        )
        cw = Window.partitionBy("q_vec_id").orderBy(
            F.col("c_sim").desc(), F.col("cell_id").asc()
        )
        probed = (
            queries.crossJoin(F.broadcast(centroids))
            .withColumn(
                "c_sim",
                cosine_similarity(F.col("q_embedding"), F.col("centroid")),
            )
            .withColumn("c_rank", F.row_number().over(cw))
            .where(F.col("c_rank") <= _NPROBE)
            .select("q_vec_id", "cell_id")
        )
        scanned = assigned.join(probed, "cell_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scanned")
        )
        hits = ivf_similarity_join(
            queries, emb, k=_K, nlist=nlist, nprobe=_NPROBE
        ).select("q_vec_id", "vec_id")
        overlap = hits.join(
            exact,
            (hits.q_vec_id == F.col("e_q")) & (hits.vec_id == F.col("e_v")),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        levels.append(
            scanned.crossJoin(F.broadcast(overlap)).select(
                F.lit(nlist).cast("bigint").alias("nlist"),
                "n_scanned",
                "n_hits",
            )
        )
    curve = reduce(lambda a, b: a.unionByName(b), levels)
    wlag = Window.orderBy("nlist")  # 4-row frame: bounded by construction
    return (
        curve.select(
            "nlist", "n_scanned", "n_hits",
            F.lag("n_scanned").over(wlag).alias("prev_scanned"),
            F.lag("n_hits").over(wlag).alias("prev_hits"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_levels"),
            F.max(
                F.when(F.col("nlist") == _NLISTS[0], F.col("n_hits"))
            ).cast("bigint").alias("full_cover_hits"),
            F.min(
                F.when(F.col("prev_scanned").isNull(), True).otherwise(
                    # <= not <: two adjacent nlist levels can probe
                    # cells covering EQUAL row counts under an unlucky
                    # seeded clustering — the real regressions are the
                    # floor and the full-cover identity, not strictness
                    F.col("n_scanned") <= F.col("prev_scanned")
                )
            ).alias("scan_monotone_ok"),
            F.min(
                F.when(F.col("prev_hits").isNull(), True).otherwise(
                    F.col("n_hits") <= F.col("prev_hits")
                )
            ).alias("recall_monotone_ok"),
            F.min(F.col("n_hits") >= _FLOOR).alias("floor_ok"),
        )
        .select(
            "n_levels",
            F.lit(_K).cast("bigint").alias("k"),
            F.lit(len(_QUERY_IDS)).cast("bigint").alias("n_queries"),
            "full_cover_hits",
            "scan_monotone_ok",
            "recall_monotone_ok",
            "floor_ok",
        )
    )


# `similarity_search_ivf_filtered` + `ivf_filtered_recall_contract` —
# top-k vector search under a metadata predicate, the production
# vector-store shape (FAISS IDSelector, pgvector `WHERE`, every
# filtered-RAG query).  See retrieval.ivf.ivf_similarity_join_filtered
# for the two scale decisions (pre-filter inside probed cells;
# selectivity-widened nprobe).
#
# Reference scope: §2B north-star breadth — the reference client
# (vector-client.ts) delegates vector search to pgvector, whose filtered
# `WHERE` queries are exactly the shape `similarity_search_ivf_filtered`
# re-expresses Spark-side.

def _pred():
    """The contract predicate (~30% selectivity on the fixture).
    Built lazily: Column construction needs an active SparkContext,
    and registry import must work without one."""
    return F.col("label") % 3 == 1


def _queries_frame(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )


@query("similarity_search_ivf_filtered")  # rows-only: cell model-defined
def similarity_search_ivf_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered ANN rows face: top-5 neighbors among label%3==1 vectors
    only, nlist=16 / nprobe=4 widened by measured selectivity (~0.3 →
    14 probed cells).  Its full contract vs the exact filtered top-k is
    driver-checked by `ivf_filtered_recall_contract`."""
    from vector_ai_npm_spark.retrieval.ivf import ivf_similarity_join_filtered

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_similarity_join_filtered(
        _queries_frame(emb), emb, _pred(), k=5, nlist=16, nprobe=4
    ).select("q_vec_id", "vec_id", "similarity", "rank")


@query(
    "ivf_filtered_recall_contract",
    oracle="""
    SELECT method, scope, ok FROM (VALUES
      ('filtered_validity', 'all', TRUE),
      ('filtered_fill', 'all', TRUE),
      ('filtered_full', 'q0', TRUE), ('filtered_full', 'q7', TRUE),
      ('filtered_full', 'q42', TRUE), ('filtered_full', 'all', TRUE),
      ('filtered_widened', 'q0', TRUE), ('filtered_widened', 'q7', TRUE),
      ('filtered_widened', 'q42', TRUE), ('filtered_widened', 'all', TRUE)
    ) t(method, scope, ok)
    """,
)
def ivf_filtered_recall_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered ANN's contract vs the hash-green exact machinery, as
    oracle-pinnable booleans:

      * validity — every returned neighbor satisfies the predicate
        (the gate that catches dropping the filter entirely);
      * fill — every query returns exactly k rows whenever the
        filtered corpus holds ≥ k candidates (the gate that catches
        post-filtering, which under-fills k at selectivity < 1);
      * full-probe identity — at nprobe = nlist the filtered probe
        must EQUAL the exact brute-force top-k over the filtered
        store, 5/5 per query (quantizer + filter compose losslessly);
      * widened half-family floor — nprobe=4 selectivity-widened to
        ~14/16 cells: ≥3/5 per query, ≥0.75 aggregate (measured 14/15
        at sf0.01 AND sf0.1 on the uniform-random ANN-hostile fixture;
        UNWIDENED nprobe=4 would scan ~4·sel cells' worth of passing
        vectors and was measured as low as 8/15 at nprobe=2-equiv)."""
    from vector_ai_npm_spark.retrieval.ivf import ivf_similarity_join_filtered

    emb = load_table(spark, sf_dir, "embeddings")
    queries = _queries_frame(emb)
    exact = similarity_join(queries, emb.where(_pred()), k=5, threshold=0.0)
    widened = ivf_similarity_join_filtered(
        queries, emb, _pred(), k=5, nlist=16, nprobe=4
    )
    full = ivf_similarity_join_filtered(
        queries, emb, _pred(), k=5, nlist=16, nprobe=16
    )
    validity = (
        widened.join(emb.select("vec_id", "label"), "vec_id")
        .agg(F.bool_and(_pred()).alias("ok"))
        .select(
            F.lit("filtered_validity").alias("method"),
            F.lit("all").alias("scope"),
            F.coalesce("ok", F.lit(False)).alias("recall_ok"),
        )
    )
    fill = (
        widened.groupBy("q_vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            (
                (F.count(F.lit(1)) == len(_QUERY_IDS))
                & F.bool_and(F.col("n") == 5)
            ).alias("ok")
        )
        .select(
            F.lit("filtered_fill").alias("method"),
            F.lit("all").alias("scope"),
            F.col("ok").alias("recall_ok"),
        )
    )
    out = (
        validity.unionByName(fill)
        .unionByName(
            _recall_rows("filtered_full", full, exact,
                         *recall_floors("filtered_full"))
        )
        .unionByName(
            _recall_rows("filtered_widened", widened, exact,
                         *recall_floors("filtered_widened"))
        )
    )
    return out.withColumnRenamed("recall_ok", "ok")


# `vector_quantize_binary` — the 32× compression extreme of the PQ/SQ8
# family: one SIGN BIT per dimension (64-dim float vector → two 32-bit
# words = 8 bytes), Hamming-distance shortlist (bit_count of xor —
# integer arithmetic, engine-identical by construction), exact cosine
# re-rank of the top-32 shortlist.  The code columns are BIGINT halves
# (bits 0–31 / 32–63) so no engine touches the sign bit of a 64-bit
# word.  This is the sign-LSH idea applied as a STORED code: at 100 TB
# the Hamming scan reads 8 bytes/row instead of 256 and the
# full-precision vectors are touched only for the 32-row shortlist.
#
# Cross-engine determinism: integer codes and Hamming everywhere in the
# shortlist; cosines via the shared strict-left-fold pair
# (functions.vectors.cosine_similarity / o_cosine); rank tiebreaks by
# vec_id.

_HAM_SHORTLIST = 32

# --- sign-bit code halves (bits 0..31 and 32..63 as positive BIGINTs) ---

_SPARK_LO = (
    "aggregate(sequence(0,31), 0L, (acc, i) -> acc + "
    "IF(element_at(embedding, i + 1) > 0, shiftleft(1L, i), 0L))"
)
_SPARK_HI = (
    "aggregate(sequence(0,31), 0L, (acc, i) -> acc + "
    "IF(element_at(embedding, i + 33) > 0, shiftleft(1L, i), 0L))"
)
_DUCK_LO = (
    "CAST(list_sum(list_transform(range(0,32), i -> CASE WHEN "
    "embedding[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) "
    "AS BIGINT)"
)
_DUCK_HI = (
    "CAST(list_sum(list_transform(range(0,32), i -> CASE WHEN "
    "embedding[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) "
    "AS BIGINT)"
)


@query(
    "vector_quantize_binary",
    oracle=f"""
    WITH codes AS (
      SELECT vec_id, embedding,
             {_DUCK_LO} AS lo, {_DUCK_HI} AS hi
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_vec_id, embedding AS q_emb,
             lo AS q_lo, hi AS q_hi
      FROM codes WHERE vec_id IN {_QUERY_IDS}
    ), ham AS (
      SELECT q.q_vec_id, c.vec_id, c.embedding, q.q_emb,
             bit_count(xor(c.lo, q.q_lo))
               + bit_count(xor(c.hi, q.q_hi)) AS hamming
      FROM codes c CROSS JOIN q
    ), short AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY q_vec_id ORDER BY hamming, vec_id
             ) AS hrk
      FROM ham
    ), rer AS (
      SELECT q_vec_id, vec_id, hamming,
             ROW_NUMBER() OVER (
               PARTITION BY q_vec_id
               ORDER BY {o_cosine("embedding", "q_emb")} DESC, vec_id
             ) AS rank
      FROM short WHERE hrk <= {_HAM_SHORTLIST}
    )
    SELECT CAST(q_vec_id AS BIGINT) AS q_vec_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(rank AS BIGINT) AS rank,
           CAST(hamming AS BIGINT) AS hamming
    FROM rer WHERE rank <= {_K}
    """,
)
def vector_quantize_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit quantization + Hamming shortlist + exact re-rank — see
    notes above.  The Hamming stage reads only the two BIGINT
    code columns (8 bytes/row); full vectors are hydrated for the
    ≤32-row shortlist.  The per-query windows partition on 3 probe
    ids; at corpus scale the shortlist stage would ride orderBy+limit
    per probe (TakeOrderedAndProject), as the IVF faces do."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = emb.select(
        "vec_id", "embedding",
        F.expr(_SPARK_LO).alias("lo"),
        F.expr(_SPARK_HI).alias("hi"),
    )
    q = codes.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_emb"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    ham = codes.crossJoin(F.broadcast(q)).select(
        "q_vec_id", "vec_id", "embedding", "q_emb",
        (
            F.bit_count(F.col("lo").bitwiseXOR(F.col("q_lo")))
            + F.bit_count(F.col("hi").bitwiseXOR(F.col("q_hi")))
        ).alias("hamming"),
    )
    wh = Window.partitionBy("q_vec_id").orderBy("hamming", "vec_id")
    short = ham.withColumn("hrk", F.row_number().over(wh)).where(
        F.col("hrk") <= _HAM_SHORTLIST
    )
    wr = Window.partitionBy("q_vec_id").orderBy(
        cosine_similarity(F.col("embedding"), F.col("q_emb")).desc(),
        F.col("vec_id"),
    )
    return (
        short.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= _K)
        .select(
            F.col("q_vec_id").cast("bigint"),
            F.col("vec_id").cast("bigint"),
            F.col("rank").cast("bigint"),
            F.col("hamming").cast("bigint"),
        )
    )


# `retrieval_late_interaction` — ColBERT-style MaxSim scoring over
# multi-vector documents: each 64-dim embedding is viewed as 4
# "token vectors" of 16 dims (deterministic split — the multi-vector
# PLUMBING is what's under test; a real corpus would carry actual
# per-token vectors), and score(q, d) = Σᵢ maxⱼ cos(qᵢ, dⱼ), folded
# in a fixed order (((m1+m2)+m3)+m4) so both engines produce the same
# double.  Late interaction is the publicly-documented retrieval
# quality jump over single-vector cosine (Khattab & Zaharia, ColBERT,
# SIGIR'20); the scale path is the same prune-then-re-rank shape as
# every ANN face here.

# --- late interaction -----------------------------------------------------

_N_SUB = 4
_DSUB = 16


def _spark_maxsim() -> F.Column:
    """Σᵢ maxⱼ cos(qᵢ, dⱼ) with a FIXED fold order."""
    maxes = []
    for i in range(_N_SUB):
        qi = F.slice(F.col("q_emb"), 1 + i * _DSUB, _DSUB)
        terms = [
            cosine_similarity(
                F.slice(F.col("embedding"), 1 + j * _DSUB, _DSUB), qi
            )
            for j in range(_N_SUB)
        ]
        maxes.append(F.greatest(*terms))
    score = maxes[0]
    for m in maxes[1:]:
        score = score + m
    return score


def _duck_maxsim() -> str:
    parts = []
    for i in range(_N_SUB):
        qi = f"q_emb[{1 + i * _DSUB}:{(i + 1) * _DSUB}]"
        terms = ", ".join(
            o_cosine(f"embedding[{1 + j * _DSUB}:{(j + 1) * _DSUB}]", qi)
            for j in range(_N_SUB)
        )
        parts.append(f"GREATEST({terms})")
    out = parts[0]
    for p in parts[1:]:
        out = f"({out} + {p})"
    return out


@query(
    "retrieval_late_interaction",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_vec_id, embedding AS q_emb
      FROM e WHERE vec_id IN {_QUERY_IDS}
    ), scored AS (
      SELECT q.q_vec_id, e.vec_id,
             {_duck_maxsim()} AS score
      FROM e CROSS JOIN q
    ), ranked AS (
      SELECT q_vec_id, vec_id, score,
             ROW_NUMBER() OVER (
               PARTITION BY q_vec_id ORDER BY score DESC, vec_id
             ) AS rank
      FROM scored
    )
    SELECT CAST(q_vec_id AS BIGINT) AS q_vec_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(rank AS BIGINT) AS rank, score
    FROM ranked WHERE rank <= 3
    """,
)
def retrieval_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MaxSim top-3 — see the notes above.  The score
    is 16 slice-cosines + 4 maxes + 3 adds per (query, doc) pair, all
    inside whole-stage codegen; probes broadcast, corpus scanned
    once."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_emb"),
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "q_vec_id", "vec_id", _spark_maxsim().alias("score")
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            F.col("q_vec_id").cast("bigint"),
            F.col("vec_id").cast("bigint"),
            F.col("rank").cast("bigint"),
            "score",
        )
    )


# `retrieval_topk_coverage` — aggregate diversity of retrieval: run a
# FIXED probe set of queries, take exact top-5 each, and report
# catalog coverage (distinct retrieved / catalog) and redundancy (the
# most-retrieved item's hit count).  The standard recommender-system
# readout for "is retrieval collapsing onto a head".  Probe count is
# a constant, so total work is probes × one corpus scan.

# --- top-k coverage ---------------------------------------------------------

_PROBE_IDS = (0, 7, 42, 100, 200, 300, 400)


@query(
    "retrieval_topk_coverage",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), q AS (
      SELECT vec_id AS q_vec_id, emb AS q_emb
      FROM e WHERE vec_id IN {_PROBE_IDS}
    ), ranked AS (
      SELECT q.q_vec_id, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_vec_id
               ORDER BY {o_cosine("e.emb", "q.q_emb")} DESC, e.vec_id
             ) AS rank
      FROM e CROSS JOIN q
    ), topk AS (
      SELECT q_vec_id, vec_id FROM ranked WHERE rank <= {_K}
    ), per_item AS (
      SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS hits
      FROM topk GROUP BY vec_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries,
           CAST({_K} AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM topk) AS n_slots,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_item)
             AS n_distinct_retrieved,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS catalog_n,
           CAST((SELECT COUNT(*) FROM per_item) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM e) AS DOUBLE) AS coverage,
           (SELECT CAST(MAX(hits) AS BIGINT) FROM per_item)
             AS top_item_hits
    """,
)
def retrieval_topk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate retrieval diversity over a fixed probe set — see
    notes above.  One corpus scan against 7 broadcast probes;
    every later frame is probe-bounded (≤35 rows)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = emb.where(F.col("vec_id").isin(*_PROBE_IDS)).select(
        F.col("vec_id").alias("q_vec_id"), F.col("emb").alias("q_emb")
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        cosine_similarity(F.col("emb"), F.col("q_emb")).desc(),
        F.col("vec_id"),
    )
    topk = (
        emb.crossJoin(F.broadcast(q))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _K)
        .select("q_vec_id", "vec_id")
    )
    per_item = topk.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("hits")
    )
    catalog = emb.agg(F.count(F.lit(1)).cast("bigint").alias("catalog_n"))
    stats = per_item.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_retrieved"),
        F.max("hits").cast("bigint").alias("top_item_hits"),
    )
    counts = topk.agg(
        F.count_distinct("q_vec_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_slots"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(catalog))
        .select(
            "n_queries",
            F.lit(_K).cast("bigint").alias("k"),
            "n_slots",
            "n_distinct_retrieved",
            "catalog_n",
            (
                F.col("n_distinct_retrieved").cast("double")
                / F.col("catalog_n").cast("double")
            ).alias("coverage"),
            "top_item_hits",
        )
    )
