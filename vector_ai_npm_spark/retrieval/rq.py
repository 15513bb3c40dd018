"""Residual quantization (RQ): additive multi-stage vector compression.

The FAISS family member beside PQ/OPQ/SQ8/binary that changes the
GEOMETRY of the code rather than the partitioning of dimensions:
instead of splitting the vector into m independent subspaces (PQ),
RQ approximates the WHOLE vector as a sum of nstages codewords, each
stage's codebook trained on the RESIDUALS the previous stages leave
behind (Chen, Guan, Wang: "Approximate Nearest Neighbor Search by
Residual Vector Quantization", Sensors 2010; FAISS
ResidualQuantizer).  At equal byte budget RQ spends its bits where
the variance actually lives, while PQ must split them evenly across
subspaces — on anisotropic embeddings that is the difference between
usable and useless codes.

Engine shape (identical scale story to retrieval/pq.py):

  * training: ONE deterministic hash-sample collect, then nstages
    driver-side Lloyd fits, each on the residual matrix of the sample
    — O(sample · nstages), corpus-size independent;
  * encoding: ONE Arrow-batched distributed pass; the
    (nstages × ksub × dim) codebook tensor (a few KB) ships in the
    UDF closure; greedy per-stage argmin, residual carried in the
    batch;
  * ADC search: cos(q, recon) decomposes additively —
    q · Σ_s C_s[c_s] = Σ_s (q · C_s[c_s]) — so a per-query
    (nstages × ksub) dot-product LUT makes scan cost a lookup-sum
    over codes, exactly PQ's ADC shape; the reconstruction norm
    (ONE float, stored at encode time) closes the cosine.

Reference scope: §2B north-star (ANN family) — the reference client
delegates vector search to pgvector; quantized codes are the part of
the 100 TB memory story pgvector's flat storage does not have.

Also here: `vector_quantize_rq`, `similarity_search_ivfrq`,
`ivfrq_recall_contract`, each with its notes in a comment above it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query
from vector_ai_npm_spark.retrieval.ivf import _train_centroids
from vector_ai_npm_spark.retrieval.pq import _train_sample
from vector_ai_npm_spark.retrieval.scaling import recall_floors


def train_rq(
    store: DataFrame,
    vec_col: str = "embedding",
    nstages: int = 4,
    ksub: int = 16,
    seed: int = 42,
) -> np.ndarray:
    """Stage-wise codebooks on residuals; returns (nstages, ksub, dim).

    Stage 0 fits the sample itself; stage s fits what stages 0..s-1
    could not explain — each later codebook is specialized to the
    actual error distribution, which is why RQ beats an equal-bit PQ
    on anisotropic data."""
    R = _train_sample(store, vec_col)
    dim = R.shape[1]
    books = np.empty((nstages, ksub, dim), dtype=np.float64)
    for s in range(nstages):
        books[s] = _train_centroids(R, nlist=ksub, seed=seed + s)
        b2 = (books[s] * books[s]).sum(axis=1)
        d2 = (
            (R * R).sum(axis=1)[:, None]
            - 2.0 * (R @ books[s].T)
            + b2[None, :]
        )
        R = R - books[s][d2.argmin(axis=1)]
    return books


def rq_encode(
    store: DataFrame,
    books: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One distributed Arrow pass: (id, codes array<int>, recon_norm,
    recon_cos).  Greedy stage-wise encoding (the standard RQ encoder;
    beam search is the quality upgrade, not needed for the contract)."""
    from pyspark.sql.pandas.functions import pandas_udf

    nstages, ksub, dim = books.shape
    b2 = (books * books).sum(axis=2)  # (nstages, ksub)

    @pandas_udf(
        "struct<codes: array<int>, recon_norm: double, recon_cos: double>"
    )
    def _enc(v: pd.Series) -> pd.DataFrame:
        X = np.stack(v.to_numpy()).astype(np.float64)
        n = X.shape[0]
        R = X.copy()
        codes = np.empty((n, nstages), dtype=np.int32)
        recon = np.zeros_like(X)
        for s in range(nstages):
            d2 = (
                (R * R).sum(axis=1)[:, None]
                - 2.0 * (R @ books[s].T)
                + b2[s][None, :]
            )
            c = d2.argmin(axis=1)
            codes[:, s] = c
            step = books[s][c]
            recon += step
            R -= step
        num = (X * recon).sum(axis=1)
        norm_r = np.linalg.norm(recon, axis=1)
        den = np.linalg.norm(X, axis=1) * norm_r
        den[den == 0.0] = 1.0
        return pd.DataFrame(
            {
                "codes": list(codes),
                "recon_norm": norm_r,
                "recon_cos": num / den,
            }
        )

    enc = store.withColumn("_rq", _enc(F.col(vec_col).cast("array<double>")))
    return enc.select(
        id_col,
        F.col("_rq.codes").alias("codes"),
        F.col("_rq.recon_norm").alias("recon_norm"),
        F.col("_rq.recon_cos").alias("recon_cos"),
    )


def rq_adc_search(
    codes_df: DataFrame,
    books: np.ndarray,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by cosine against RECONSTRUCTIONS without
    decoding: per-stage dot-product LUT (nstages × ksub doubles in the
    closure), lookup-sum per row, divide by the stored recon_norm."""
    from pyspark.sql.pandas.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    lut = books @ q  # (nstages, ksub)
    qn = float(np.linalg.norm(q)) or 1.0
    nstages = books.shape[0]

    @pandas_udf("double")
    def _adc(codes: pd.Series, norms: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy()).astype(np.int64)  # (n, nstages)
        dots = lut[np.arange(nstages)[None, :], C].sum(axis=1)
        den = norms.to_numpy().astype(np.float64) * qn
        den[den == 0.0] = 1.0
        return pd.Series(dots / den)

    scored = codes_df.withColumn(
        "adc_cos", _adc(F.col("codes"), F.col("recon_norm"))
    )
    return (
        scored.orderBy(F.col("adc_cos").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "adc_cos")
    )


def build_ivfrq_index(
    store: DataFrame,
    nlist: int = 8,
    nstages: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """IVF-RQ: cell pruning over residual codes — the additive twin of
    build_ivfpq_index (pq.py), same build economics: train/assign/
    encode one pass each, index persisted partitioned by cell_id at
    scale, per-cell manifest collected once so searches derive their
    probed-scaled re-rank budget driver-side."""

    from vector_ai_npm_spark.retrieval.ivf import build_ivf_index

    books = train_rq(store, vec_col=vec_col, nstages=nstages, ksub=ksub)
    assigned, centroids = build_ivf_index(store, vec_col, nlist=nlist)
    codes = rq_encode(store, books, vec_col=vec_col, id_col=id_col)
    index = assigned.select(id_col, "cell_id").join(codes, id_col)
    cents = {r[0]: np.asarray(r[1]) for r in centroids.collect()}
    cell_counts = {
        r.cell_id: r.n
        for r in assigned.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return index, cents, books, cell_counts


def ivfrq_search_index(
    index: DataFrame,
    cents: dict,
    books: np.ndarray,
    store: DataFrame,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 4,
    shortlist: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_counts: dict | None = None,
) -> DataFrame:
    """Probe the nprobe nearest cells, stage-LUT ADC shortlist
    (probed-scaled budget — the round-8 fixed-budget lesson, same
    max(4k, probed/5) rule as IVF-PQ), exact cosine re-rank of the
    survivors, top-k."""
    from pyspark.sql import Window

    from vector_ai_npm_spark.functions.vectors import cosine_similarity

    q = np.asarray(query_vec, dtype=np.float64)
    order = sorted(
        cents, key=lambda c: float(((q - cents[c]) ** 2).sum())
    )[:nprobe]
    probed = index.where(F.col("cell_id").isin(*[int(c) for c in order]))
    if shortlist is None:
        if cell_counts is not None:
            n_probed = sum(int(cell_counts.get(c, 0)) for c in order)
        else:
            n_probed = probed.count()
        shortlist = max(4 * k, n_probed // 5)
    short = rq_adc_search(probed, books, query_vec, k=shortlist, id_col=id_col)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    rescored = (
        short.join(store.select(id_col, vec_col), id_col)
        .select(
            id_col,
            cosine_similarity(F.col(vec_col), qlit).alias("similarity"),
        )
        .orderBy(F.col("similarity").desc(), F.col(id_col).asc())
        .limit(k)
    )
    return rescored.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("similarity").desc(), F.col(id_col).asc())
        ).cast("long"),
    )


# `vector_quantize_rq` — retrieval/rq.py's stage-wise residual codes
# as oracle-pinnable booleans, including the family-vs-family gate:
# at EQUAL code count (4 codes of 4 bits), RQ's whole-vector stages
# must reconstruct better than PQ's fixed subspace split — the
# measurable reason the additive member exists.

@query(
    "vector_quantize_rq",
    oracle="""
    SELECT scope, ok FROM (VALUES
      ('nstages_codes_per_vec', TRUE), ('codes_in_range', TRUE),
      ('compression_64x', TRUE), ('recon_mean_floor', TRUE),
      ('recon_p01_floor', TRUE), ('recon_beats_rank0', TRUE),
      ('rq_beats_equal_code_pq', TRUE), ('adc_self_top1', TRUE)
    ) t(scope, ok)
    """,
)
def vector_quantize_rq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual quantization (retrieval.rq) as oracle-pinnable booleans
    — the 64× ANN memory path (4 stage bytes vs dim×4 float bytes):

      * every vector gets exactly nstages=4 codes, each in [0, 16)
      * compression is 64× by construction, derived from the DATA
        (size(embedding)×4 bytes vs size(codes) bytes), not constants
      * ALL quality booleans are measured on the ANISOTROPIZED fixture
        (dim i scaled by 0.92^i — r12 sf10 catch): the structural claim
        "RQ beats equal-code PQ" is TRUE on data where variance is
        concentrated (whole-vector residual stages spend bits where
        variance lives, subspace splits can't) and asymptotically FALSE
        on isotropic uniform noise — measured on the raw fixture the
        +0.082 sf0.01 edge decayed to +0.043 at sf0.1 and INVERTED to
        −0.006 at 200k vectors, because on independent uniform dims
        PQ's product structure is strictly more expressive.  On the
        anisotropic transform the gate is scale-stable: RQ mean
        0.857/0.828/0.834/0.832 vs PQ 0.622/0.599/0.625/0.623 at
        sf0.01/0.1/1/10 (tools/logs + TUNING.md r12)
      * mean / 1st-percentile reconstruction cosine ≥ 0.75 / 0.55 on
        that transform (scale-stable margins ≥ 0.07 at every measured
        scale); the mean must also beat the global-mean rank-0 baseline
      * stage-LUT ADC search (dot-product lookups over CODES plus the
        stored recon norm, no decode) puts the query's own row at
        rank 1

    Training is the capped deterministic hash-sample + driver Lloyd
    recipe (retrieval/ivf.py) run stage-wise on residuals; encoding
    and ADC are single Arrow passes, so every boolean is stable per
    fixture."""
    from vector_ai_npm_spark.functions.vectors import cosine_similarity
    from vector_ai_npm_spark.retrieval.pq import pq_encode, train_pq

    emb_raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb = emb_raw.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> x * power(0.92d, i))"
        ).alias("embedding"),
    )
    books = train_rq(emb, nstages=4, ksub=16)
    enc = rq_encode(emb, books).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    pq_mean = (
        pq_encode(emb, train_pq(emb, m=4, ksub=16))
        .agg(F.avg("recon_cos").alias("pq_mean"))
    )
    # adc_self_top1 tests the ADC MECHANICS on the RAW fixture with the
    # production TWO-STAGE semantics: self must survive the ADC
    # shortlist at the corpus-proportional budget n/5 (the top-20% cut;
    # tiny floor of 4 only so degenerate <20-row frames stay defined —
    # a production-style 4000 floor would swallow the 500-row fixture
    # whole and make the gate vacuous), then the exact re-rank puts it
    # at rank 1.  Raw ADC-rank-1
    # is asymptotically impossible at fixed code length: the max random
    # recon-query cosine over n rows grows ~ sqrt(2 ln n / d) (≈0.62 at
    # 200k, d=64) and passes the fixed 4-byte self-recon (≈0.46) —
    # measured red at sf10, r12.  Shortlist survival + re-rank is the
    # property the serving path actually relies on, and P(self below
    # the top-20% ADC cut) vanishes with n.
    books_raw = train_rq(emb_raw, nstages=4, ksub=16)
    qvec = list(
        emb_raw.where(F.col("vec_id") == 7).select("embedding").first()[0]
    )
    n_corpus = emb_raw.count()
    shortlist = rq_adc_search(
        rq_encode(emb_raw, books_raw), books_raw, qvec,
        k=max(4, n_corpus // 5),
    ).select("vec_id")
    rerank = (
        shortlist.join(emb_raw, "vec_id")
        .select(
            "vec_id",
            cosine_similarity(
                F.col("embedding"),
                F.array(*[F.lit(float(v)) for v in qvec]),
            ).alias("c"),
        )
        .orderBy(F.col("c").desc(), F.col("vec_id"))
        .limit(1)
    )
    adc_self = rerank.agg(
        F.bool_and(F.col("vec_id") == 7).alias("ok")
    ).select(F.lit("adc_self_top1").alias("scope"), "ok")
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
        .crossJoin(F.broadcast(pq_mean))
        .agg(
            F.bool_and(F.size("codes") == 4).alias("m_ok"),
            F.bool_and(
                (F.array_min("codes") >= 0) & (F.array_max("codes") < 16)
            ).alias("range_ok"),
            F.bool_and(
                F.size("embedding") * 4 == F.size("codes") * 64
            ).alias("comp_ok"),
            (F.avg("recon_cos") >= 0.75).alias("mean_ok"),
            (F.expr("percentile(recon_cos, 0.01)") >= 0.55).alias("min_ok"),
            (F.avg("recon_cos") > F.first("mean_c0")).alias("rank0_ok"),
            (F.avg("recon_cos") > F.first("pq_mean")).alias("beats_pq_ok"),
        )
    )
    rows = agg.select(
        F.explode(
            F.array(
                F.struct(F.lit("nstages_codes_per_vec").alias("scope"),
                         F.col("m_ok").alias("ok")),
                F.struct(F.lit("codes_in_range").alias("scope"),
                         F.col("range_ok").alias("ok")),
                F.struct(F.lit("compression_64x").alias("scope"),
                         F.col("comp_ok").alias("ok")),
                F.struct(F.lit("recon_mean_floor").alias("scope"),
                         F.col("mean_ok").alias("ok")),
                F.struct(F.lit("recon_p01_floor").alias("scope"),
                         F.col("min_ok").alias("ok")),
                F.struct(F.lit("recon_beats_rank0").alias("scope"),
                         F.col("rank0_ok").alias("ok")),
                F.struct(F.lit("rq_beats_equal_code_pq").alias("scope"),
                         F.col("beats_pq_ok").alias("ok")),
            )
        ).alias("r")
    ).select("r.scope", "r.ok")
    return rows.unionByName(adc_self)


# Pipeline per search: rank cells by centroid distance (driver-side,
# nlist-sized), scan ONLY the probed cells' 4-byte codes, stage-LUT ADC
# shortlist with the PROBED-SCALED budget (max(4k, probed/5) — the
# round-8 fixed-budget lesson, third family member to inherit it), then
# exact cosine re-rank of the shortlist.  Memory story: the scanned
# index row is cell_id + 4 code bytes + one norm float — the 100 TB
# candidate set fits where raw float vectors cannot.

_QUERY_IDS = (0, 7, 42)


def scaled_rq_stages(n: int, base: int = 4) -> int:
    """Corpus-scaled RQ code length: +2 stages (bytes) per corpus
    decade beyond the 2k tuning scale, base unchanged at ≤2k so
    sf0.01/0.1 hashes hold (the r11 scaled_hash_tables/scaled_nprobe
    discipline applied to code CAPACITY).

    Why stages and not probes: the r11 sf1 sweep showed the FULL-probe
    recall floor failing — pruning exonerated, pure ADC-shortlist loss.
    As the corpus grows, the sim gap between true top-k and the bulk
    narrows, so a fixed 4-byte code's ordering noise swamps it; code
    bits must grow ~log(n) to keep ADC ordering power.  Measured at sf1
    (tools/ivfrq_scale_study.py, TUNING.md r12): 4 stages → half 11/15
    (q42=2 < 3), full 13/15 (q42=3 < 4), both RED; 6 stages → half
    13/15 (min 4), full 14/15 (min 4), all floors GREEN."""
    from vector_ai_npm_spark.retrieval.scaling import corpus_decades

    return base + 2 * corpus_decades(n)


def _search_all(spark, sf_dir, nprobe):

    emb = load_table(spark, sf_dir, "embeddings")
    idx, cents, books, counts = build_ivfrq_index(
        emb, nlist=8, nstages=scaled_rq_stages(emb.count()), ksub=16
    )
    idx = idx.localCheckpoint(eager=True)
    frames = []
    for qid in _QUERY_IDS:
        qvec = list(
            emb.where(F.col("vec_id") == qid).select("embedding").first()[0]
        )
        frames.append(
            ivfrq_search_index(
                idx, cents, books, emb, qvec, k=5, nprobe=nprobe,
                cell_counts=counts,
            ).withColumn("q_vec_id", F.lit(qid).cast("long"))
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return emb, out


@query("similarity_search_ivfrq")  # rows-only: cells/codes model-defined
def similarity_search_ivfrq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-RQ search rows face (nprobe=4 of nlist=8) — see the notes
    above; the recall contract is `ivfrq_recall_contract`."""
    _, out = _search_all(spark, sf_dir, nprobe=4)
    return out.select("q_vec_id", "vec_id", "similarity", "rank")


@query(
    "ivfrq_recall_contract",
    oracle="""
    SELECT method, scope, ok FROM (VALUES
      ('ivfrq_self_top1', 'all', TRUE),
      ('ivfrq_half', 'q0', TRUE), ('ivfrq_half', 'q7', TRUE),
      ('ivfrq_half', 'q42', TRUE), ('ivfrq_half', 'all', TRUE),
      ('ivfrq_full', 'q0', TRUE), ('ivfrq_full', 'q7', TRUE),
      ('ivfrq_full', 'q42', TRUE), ('ivfrq_full', 'all', TRUE)
    ) t(method, scope, ok)
    """,
)
def ivfrq_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-RQ's contract vs the hash-green exact top-k:

      * self rank-1 — each probe surfaces its own row first (its cell
        is always probed; shared quantization error keeps self-score
        maximal through the ADC shortlist and the exact re-rank);
      * nprobe=4 (half the cells): ≥3/5 per query, ≥0.65 aggregate —
        the family floor separating pruned search from chance
        (measured 12/15 at sf0.01, 10/15 at sf0.1 on the
        uniform-random quantization-hostile fixture);
      * nprobe=8 (every cell): ≥4/5 per query, ≥0.8 aggregate —
        isolates pure ADC-shortlist loss from cell pruning (measured
        13/15 at BOTH sfs; the residual 2 misses are vectors whose
        4-byte reconstruction ranks below the probed/5 shortlist cut,
        the documented price of 64× compression)."""
    from vector_ai_npm_spark.retrieval.queries import _recall_rows
    from vector_ai_npm_spark.retrieval.search import similarity_join

    emb, half = _search_all(spark, sf_dir, nprobe=4)
    _, full = _search_all(spark, sf_dir, nprobe=8)
    queries = emb.where(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    exact = similarity_join(queries, emb, k=5, threshold=0.0)
    self_ok = (
        half.where(F.col("rank") == 1)
        .agg(F.bool_and(F.col("vec_id") == F.col("q_vec_id")).alias("ok"))
        .select(
            F.lit("ivfrq_self_top1").alias("method"),
            F.lit("all").alias("scope"),
            F.coalesce("ok", F.lit(False)).alias("recall_ok"),
        )
    )
    out = (
        self_ok
        .unionByName(
            _recall_rows("ivfrq_half", half, exact,
                         *recall_floors("ivfrq_half"))
        )
        .unionByName(
            _recall_rows("ivfrq_full", full, exact,
                         *recall_floors("ivfrq_full"))
        )
    )
    return out.withColumnRenamed("recall_ok", "ok")
