"""Wave 51: residual quantization + k-truss invariants the boolean
contract faces can't express from inside one run."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table

SF = "/root/testdata/sf0.001"


def test_rq_stage_monotonicity(spark):
    """More residual stages can only explain MORE of the vector:
    mean reconstruction cosine must be non-decreasing in nstages
    (each stage subtracts its best codeword from the residual)."""
    from vector_ai_npm_spark.retrieval.rq import rq_encode, train_rq

    emb = load_table(spark, SF, "embeddings")
    means = []
    for nstages in (1, 2, 4):
        books = train_rq(emb, nstages=nstages, ksub=16)
        m = rq_encode(emb, books).agg(F.avg("recon_cos")).first()[0]
        means.append(m)
    assert means[0] <= means[1] <= means[2], means
    assert means[2] > means[0] + 0.05  # stages do real work


def test_rq_codes_shape_and_determinism(spark):
    from vector_ai_npm_spark.retrieval.rq import rq_encode, train_rq

    emb = load_table(spark, SF, "embeddings")
    books = train_rq(emb, nstages=4, ksub=16)
    a = {r.vec_id: (tuple(r.codes), round(r.recon_cos, 12))
         for r in rq_encode(emb, books).collect()}
    b = {r.vec_id: (tuple(r.codes), round(r.recon_cos, 12))
         for r in rq_encode(emb, books).collect()}
    assert a == b
    assert all(len(c) == 4 and all(0 <= x < 16 for x in c)
               for c, _ in a.values())


def test_rq_adc_ranks_near_exact_on_self(spark):
    """ADC self-search: each of 3 probes surfaces itself at rank 1 —
    shared quantization error keeps self-similarity maximal."""
    from vector_ai_npm_spark.retrieval.rq import (
        rq_adc_search,
        rq_encode,
        train_rq,
    )

    emb = load_table(spark, SF, "embeddings")
    books = train_rq(emb, nstages=4, ksub=16)
    enc = rq_encode(emb, books)
    for qid in (0, 3, 11):
        qvec = list(
            emb.where(F.col("vec_id") == qid).select("embedding").first()[0]
        )
        top = rq_adc_search(enc, books, qvec, k=1).first()
        assert top.vec_id == qid


def test_ktruss_fixpoint_and_support_floor(spark):
    """Round _ROUNDS-1 ≡ round _ROUNDS on the fixture (the unroll is a
    proven fixpoint, not an approximation), and every surviving edge
    closes ≥ k-2 triangles inside the truss."""
    from vector_ai_npm_spark.operators.graph_ops import copurchase_edges
    from vector_ai_npm_spark.operators.graph_ktruss import (
        _ROUNDS,
        ktruss_edges,
    )

    edges = copurchase_edges(spark, SF).select("src", "dst")
    fin = ktruss_edges(edges, k=3, rounds=_ROUNDS)
    prev = ktruss_edges(edges, k=3, rounds=_ROUNDS - 1)
    a = {(r.src, r.dst, r.support) for r in fin.collect()}
    b = {(r.src, r.dst, r.support) for r in prev.collect()}
    assert a == b
    assert a and all(s >= 1 for _, _, s in a)
    assert len(a) == 2244  # pinned from the DuckDB prototype


def test_ktruss_is_subgraph_of_kminus1_core(spark):
    """Every k-truss is contained in the (k-1)-core: inside the truss,
    each endpoint of each edge has degree ≥ k-1 (its k-2 triangle
    partners plus the edge itself)."""
    from vector_ai_npm_spark.operators.graph_ops import copurchase_edges
    from vector_ai_npm_spark.operators.graph_ktruss import ktruss_edges

    edges = copurchase_edges(spark, SF).select("src", "dst")
    truss = ktruss_edges(edges, k=3).select("src", "dst")
    deg = (
        truss.select(F.col("src").alias("node"))
        .unionAll(truss.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    assert deg.agg(F.min("d")).first()[0] >= 2
