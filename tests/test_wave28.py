"""Wave-28: IVF append contract and source-pair dup rate."""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

from pyspark.sql import functions as F

from vector_ai_npm_spark import registry
from vector_ai_npm_spark.dedup.queries import dedup_minhash_pairs
from vector_ai_npm_spark.io.sources import load_table


def test_ivf_append_lands_in_frozen_cells(spark, sf_oracle, tmp_path):
    """The appended batch must (a) reuse the existing centroids
    verbatim and (b) land each vector in the cell the frozen
    quantizer assigns — re-deriving assignments driver-side."""
    import numpy as np

    from vector_ai_npm_spark.retrieval.store import (
        append_ivf_store,
        persist_ivf_store,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    store_dir = str(tmp_path / "store")
    persist_ivf_store(base, store_dir, nlist=8)
    before = {
        r.cell_id: list(r.centroid)
        for r in spark.read.parquet(f"{store_dir}/centroids").collect()
    }
    append_ivf_store(batch, store_dir)
    after = {
        r.cell_id: list(r.centroid)
        for r in spark.read.parquet(f"{store_dir}/centroids").collect()
    }
    assert before == after  # centroids frozen
    C = np.array([before[i] for i in sorted(before)], dtype=np.float64)
    cells = spark.read.parquet(f"{store_dir}/cells")
    stored = {
        r.vec_id: r.cell_id
        for r in cells.select("vec_id", "cell_id").collect()
    }
    n_base = base.count()
    n_batch = batch.count()
    assert len(stored) == n_base + n_batch
    for r in batch.select("vec_id", "embedding").collect():
        v = np.array([float(x) for x in r.embedding])
        want = int(((C - v) ** 2).sum(axis=1).argmin())
        assert stored[r.vec_id] == want, r.vec_id
    got = registry.run("vector_store_ivf_append", spark, sf_oracle).collect()[0]
    assert (got.n_base, got.n_appended, got.n_store) == (
        n_base, n_batch, n_base + n_batch,
    )
    assert got.self_rank1_ok and got.recall_ok


def test_source_pair_rate_matches_pair_reference(spark, sf_oracle):
    pairs = (
        dedup_minhash_pairs(spark, sf_oracle)
        .select("doc_id_a", "doc_id_b")
        .distinct()
        .collect()
    )
    docs = {
        r.doc_id: r.source
        for r in load_table(spark, sf_oracle, "documents")
        .select("doc_id", "source")
        .collect()
    }
    n_docs = Counter(docs.values())
    m = Counter()
    for p in pairs:
        sa, sb = sorted((docs[p.doc_id_a], docs[p.doc_id_b]))
        m[(sa, sb)] += 1
    got = {
        (r.source_a, r.source_b): r
        for r in registry.run(
            "dedup_source_pair_rate", spark, sf_oracle
        ).collect()
    }
    assert set(got) == set(m)
    assert m  # planted near-dups exist — non-vacuous
    for (sa, sb), n in m.items():
        r = got[(sa, sb)]
        poss = (
            n_docs[sa] * (n_docs[sa] - 1) // 2
            if sa == sb
            else n_docs[sa] * n_docs[sb]
        )
        assert (r.n_pairs, r.docs_a, r.docs_b, r.pairs_possible) == (
            n, n_docs[sa], n_docs[sb], poss,
        )
        assert Fraction(r.n_pairs, r.pairs_possible) == Fraction(n, poss)
