"""Deduplication suite (SURVEY §2B B17/B18 + north-star variants).

Five dedup strategies, each a first-class operator over `documents` /
`embeddings`, ordered by cost-at-scale:

  dedup_exact            content hash          O(n) + tiny shuffle
  dedup_simhash          16-bit signed profile O(n·tokens), pairs via equality
  dedup_minhash_*        MinHash signatures + banded LSH candidate pairs
  dedup_ngram_jaccard    exact Jaccard within blocking keys
  dedup_embedding        cosine near-dup within label blocks
  dedup_near_lsh         MLlib MinHashLSH (the 100 TB approx path)

Hash discipline for oracle parity: md5 is the cross-engine hash (Spark
``md5`` == DuckDB ``md5``); 15 hex chars → BIGINT via Spark ``conv(...,
16, 10)`` / DuckDB ``CAST('0x…' AS BIGINT)`` (both < 2^60, no sign
issues). Spark's xxhash64 would be faster JVM-side but has no DuckDB
counterpart — at production scale swap `_H` for xxhash64 freely (values
change, semantics don't).

Also here: `dedup_source_pair_rate`, `dedup_near_lsh_routed`, each with
its notes in a comment above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.dedup.embedding_router import embedding_dedup_pairs
from vector_ai_npm_spark.functions.vectors import cosine_similarity, o_cosine
from vector_ai_npm_spark.io.sources import load_table, scale_partitions
from vector_ai_npm_spark import registry
from vector_ai_npm_spark.registry import query

N_MINHASH = 8
# 2 bands × 4 rows: LSH threshold (1/b)^(1/r) = 0.5^0.25 ≈ 0.84, tuned to
# the 0.8 near-dup target. On this fixture corpus (synthetic word salad,
# mean pairwise Jaccard ≈ 0.6!) wider bands matter: 4 bands × 2 rows
# collides on ~j² ≈ 38% of ALL doc pairs (~19M candidates at sf0.1, 14s),
# while 4-row bands collide at j⁴ (~10× fewer).
N_BANDS = 2
ROWS_PER_BAND = 4

# --- shared token/shingle fragments (kept textually parallel per engine) --

_SPARK_TOKS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
_DUCK_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"

_SPARK_SHINGLES = (
    f"CASE WHEN size({_SPARK_TOKS}) >= 3 THEN array_distinct(transform("
    f"sequence(1, size({_SPARK_TOKS}) - 2), "
    f"i -> array_join(slice({_SPARK_TOKS}, i, 3), ' '))) "
    f"ELSE array(array_join({_SPARK_TOKS}, ' ')) END"
)
_DUCK_SHINGLES = (
    f"CASE WHEN len({_DUCK_TOKS}) >= 3 THEN list_distinct(list_transform("
    f"range(1, len({_DUCK_TOKS}) - 1), "
    f"i -> array_to_string({_DUCK_TOKS}[i:i+2], ' '))) "
    f"ELSE [array_to_string({_DUCK_TOKS}, ' ')] END"
)


# 8 minhash functions from TWO md5 digests per shingle (not eight): each
# 32-hex digest is sliced into four 8-hex (32-bit) hash values. One md5
# pass per shingle per digest is the dominant cost of signature building;
# slicing halves-to-quarters it with no loss of determinism (32-bit
# minhashes are plenty for banding).
def _spark_minhash(i: int) -> str:
    seed, slot = divmod(i, 4)
    return (
        "array_min(transform(shingles, "
        f"s -> cast(conv(substring(md5(concat(s, '#{seed}')), {1 + 8 * slot}, 8), 16, 10) as bigint)))"
    )


def _duck_minhash(i: int) -> str:
    seed, slot = divmod(i, 4)
    return (
        "list_min(list_transform(shingles, "
        f"s -> CAST('0x' || substring(md5(s || '#{seed}'), {1 + 8 * slot}, 8) AS BIGINT)))"
    )


# --------------------------------------------------------------------------
# B17 — exact dedup by content hash
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_hash,
           CAST(MIN(doc_id) OVER (PARTITION BY md5(text)) AS BIGINT) AS keeper_id,
           (doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text))) AS is_dup
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17: hash-groupBy exact dedup — every doc labeled keep/dup with its
    keeper (min doc_id per hash). At 100 TB: one shuffle on the 128-bit
    hash; the window count per key is O(dup-group size)."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text"))
    w = Window.partitionBy(h)
    keeper = F.min("doc_id").over(w)
    return docs.select(
        "doc_id",
        h.alias("content_hash"),
        keeper.cast("long").alias("keeper_id"),
        (F.col("doc_id") != keeper).alias("is_dup"),
    )


# --------------------------------------------------------------------------
# B18a — exact n-gram Jaccard within blocking keys
# --------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {_DUCK_SHINGLES} AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
           len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
          len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18a: exact 3-gram Jaccard near-dup pairs via an INVERTED-INDEX
    join — the 100 TB shape. Explode (doc, shingle), equi-join on
    (block, shingle), count co-occurrences per pair: |A∩B| from the
    group count, |A∪B| = |A|+|B|−|A∩B| from per-doc sizes. One shuffle
    on the shingle key instead of a quadratic per-block array-intersect
    cross join (this rewrite took the sf0.1 bench from 17s to ~2s and,
    unlike the array form, never materializes zero-overlap pairs).

    Pairs with no shared shingle have jaccard 0 and can't pass the 0.8
    threshold, so the result set equals the naive blocked cross join's.
    """
    overlapped = _shingle_pair_overlap(spark, sf_dir)
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return overlapped.select(
        "doc_id_a", "doc_id_b", jac.alias("jaccard")
    ).where(F.col("jaccard") >= 0.8)


def _shingle_pair_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id_a, doc_id_b, n_common, n_a, n_b) for every blocked doc
    pair sharing ≥1 shingle — the shared core of the exact set-overlap
    dedups (Jaccard and containment score it differently)."""
    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    # Plan-shape note: the ONLY projection above the Generate is attribute
    # passthrough — putting e.g. size(shingles) next to the explode would
    # collapse into a Project that re-evaluates the whole shingle
    # expression per OUTPUT row (measured 8s vs 0.5s at sf0.1).
    ex = docs.select(
        "doc_id", "lang", "source",
        F.explode(F.expr(_SPARK_SHINGLES)).alias("shingle"),
    )
    # Bucket-emit-pairs: group the postings list per shingle and emit the
    # (a<b) pairs from inside each bucket — ONE evaluation of the shingle
    # explode and one shuffle, vs a self-join that recomputes the exploded
    # view on both probe sides plus a third time for per-doc sizes.
    buckets = ex.groupBy("lang", "source", "shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (d, i) -> "
                "transform(slice(ds, i + 2, size(ds)), "
                "d2 -> struct(d AS a, d2 AS b))))"
            )
        ).alias("p")
    )
    pair_counts = pairs.groupBy(
        F.col("p.a").alias("doc_id_a"), F.col("p.b").alias("doc_id_b")
    ).agg(F.count(F.lit(1)).alias("n_common"))
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"))
    return pair_counts.join(F.broadcast(sa), "doc_id_a").join(
        F.broadcast(sb), "doc_id_b"
    )


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {_DUCK_SHINGLES} AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
           least(len(a.shingles), len(b.shingles)) AS containment
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
          least(len(a.shingles), len(b.shingles)) >= 0.9
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18a': exact 3-gram CONTAINMENT pairs — |A∩B| / min(|A|, |B|),
    the asymmetric overlap that catches near-SUPERSETS (a short doc
    quoted whole inside a longer one, boilerplate wrapping real
    content) which Jaccard misses: a 50-shingle doc inside a
    500-shingle doc scores containment 1.0 but jaccard 0.1.

    Same inverted-index bucket-emit core as `dedup_ngram_jaccard`
    (:func:`_shingle_pair_overlap` — one shingle shuffle, cost tracks
    pairs that actually share a shingle); only the scoring changes."""
    overlapped = _shingle_pair_overlap(spark, sf_dir)
    cont = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    )
    return overlapped.select(
        "doc_id_a", "doc_id_b", cont.alias("containment")
    ).where(F.col("containment") >= 0.9)


# --------------------------------------------------------------------------
# B18b — MinHash signatures + banded LSH candidate pairs (pure SQL/exprs)
# --------------------------------------------------------------------------


@query(
    "dedup_minhash_signature",
    oracle="WITH sh AS (SELECT doc_id, " + _DUCK_SHINGLES + """ AS shingles
      FROM documents)
    SELECT doc_id, """
    + ", ".join(f"{_duck_minhash(i)} AS mh{i}" for i in range(N_MINHASH))
    + " FROM sh",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18b-1: 8-hash MinHash signature per document, entirely JVM-side
    (md5 + array fold per hash — no UDF, no shuffle)."""
    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    sh = docs.select("doc_id", F.expr(_SPARK_SHINGLES).alias("shingles"))
    return sh.select(
        "doc_id",
        *[F.expr(_spark_minhash(i)).alias(f"mh{i}") for i in range(N_MINHASH)],
    )


def _band_cols(b: int) -> list[str]:
    return [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]


_BAND_KEYS_SPARK = [
    "md5(concat_ws(',', " + ", ".join(f"cast({c} as string)" for c in _band_cols(b)) + "))"
    for b in range(N_BANDS)
]
_BAND_KEYS_DUCK = [
    "md5(" + " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in _band_cols(b)) + ")"
    for b in range(N_BANDS)
]


@query(
    "dedup_minhash_pairs",
    oracle="WITH sh AS (SELECT doc_id, " + _DUCK_SHINGLES + """ AS shingles
      FROM documents),
    sig AS (SELECT doc_id, """
    + ", ".join(f"{_duck_minhash(i)} AS mh{i}" for i in range(N_MINHASH))
    + """ FROM sh),
    bands AS (
      SELECT doc_id, unnest(["""
    + ", ".join(_BAND_KEYS_DUCK)
    + """]) AS band_key FROM sig)
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM bands a JOIN bands b
      ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18b-2: banded LSH candidate pairs — docs sharing any band of
    ROWS_PER_BAND consecutive minhashes. THIS is the 100 TB near-dup shape: explode to
    (doc, band_key), shuffle on band_key (equi-join), never a cross
    product. Skewed bands (boilerplate dups) are handled by AQE skew
    splitting."""
    sig = dedup_minhash_signature(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[F.expr(k) for k in _BAND_KEYS_SPARK])).alias("band_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# B18c — MLlib MinHashLSH (approx path, rows-only)
# --------------------------------------------------------------------------


#: above this corpus size the MLlib face auto-routes to the banded
#: inverted-index core.  MLlib's MinHashLSH is OR-only amplification
#: (one hash per table, no banding), so its candidate-pair volume is
#: ~n²·(1−(1−j_bg)^T) — quadratic whenever background token jaccard
#: j_bg is non-negligible, which English-ish text guarantees via
#: stopwords.  Measured (TUNING.md r11 addendum): at sf1's 50k docs
#: the self-join blew a 10-minute idle budget; the banded core's
#: AND×OR construction keeps candidates O(n + true pairs) and is the
#: path every production face already uses.
MLLIB_LSH_MAX_DOCS = 20_000


def mllib_lsh_pairs(
    docs: DataFrame,
    dist_threshold: float = 0.6,
    mllib_max_docs: int = MLLIB_LSH_MAX_DOCS,
) -> DataFrame:
    """MinHashLSH.approxSimilarityJoin over hashed token features —
    shared by the B18c query and its planted-dup recall contract.

    Corpus-scaled routing (r12): at ≤ ``mllib_max_docs`` this is the
    MLlib library demo unchanged (sf0.01/0.1 behavior bit-identical);
    above it the same output contract — (doc_id_a, doc_id_b,
    jaccard_dist ≤ dist_threshold) — is produced by the repo's banded
    minhash candidate core + exact token-set jaccard on the bounded
    candidate set, because the OR-only MLlib construction is
    intrinsically quadratic on text corpora (see MLLIB_LSH_MAX_DOCS)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    if docs.count() > mllib_max_docs:
        return _banded_routed_pairs(docs, dist_threshold)

    toks = docs.select(
        "doc_id", F.expr(_SPARK_TOKS).alias("tokens")
    ).where(F.size("tokens") > 0)
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 16)
    feats = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5,
                     seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, dist_threshold, distCol="jaccard_dist"
    )
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_id_a"),
            F.col("datasetB.doc_id").alias("doc_id_b"),
            F.col("jaccard_dist"),
        )
    )


def _banded_routed_pairs(docs: DataFrame, dist_threshold: float) -> DataFrame:
    """The scale path for :func:`mllib_lsh_pairs`: banded-minhash
    candidate generation (the dedup_minhash_pairs AND×OR core — explode
    to (doc, band_key), equi-join, never a cross product) + EXACT
    token-set jaccard on the bounded candidate set, filtered to the
    same ``jaccard_dist <= dist_threshold`` contract the MLlib join
    returns.  A high-jaccard pair (the planted-recall regime, j ≥ 0.9)
    misses both 4-row bands with p = (1 − j⁴)² ≤ 0.12 at j = 0.9 and
    ≤ 0.001 at the planted j ≈ 0.98 — well inside the 0.95 recall
    floor; a background pair (j ≈ 0.05) survives a band at j⁴ ≈ 6e-6,
    keeping candidates O(n + true pairs)."""
    docs = docs.select("doc_id", "text")
    sh = docs.select("doc_id", F.expr(_SPARK_SHINGLES).alias("shingles"))
    sig = sh.select(
        "doc_id",
        *[F.expr(_spark_minhash(i)).alias(f"mh{i}") for i in range(N_MINHASH)],
    )
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[F.expr(k) for k in _BAND_KEYS_SPARK])).alias(
            "band_key"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    toks = docs.select(
        "doc_id",
        F.array_distinct(F.expr(_SPARK_TOKS)).alias("tok_set"),
    ).where(F.size("tok_set") > 0)
    ta = toks.select(
        F.col("doc_id").alias("doc_id_a"), F.col("tok_set").alias("toks_a")
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_id_b"), F.col("tok_set").alias("toks_b")
    )
    jac = F.size(F.array_intersect("toks_a", "toks_b")).cast(
        "double"
    ) / F.size(F.array_union("toks_a", "toks_b")).cast("double")
    return (
        cand.join(ta, "doc_id_a")
        .join(tb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (F.lit(1.0) - jac).alias("jaccard_dist"),
        )
        .where(F.col("jaccard_dist") <= F.lit(dist_threshold))
    )


@query("dedup_near_lsh")  # rows-only: MLlib hash families are model-defined
def dedup_near_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18c: MinHashLSH.approxSimilarityJoin over hashed token features —
    the library variant of dedup_minhash_pairs (north-star "Batch index
    build via MLlib"). tests/test_dedup.py checks recall vs exact
    Jaccard pairs; the driver-checkable recall contract is
    lsh_dedup_recall below."""
    return mllib_lsh_pairs(load_table(spark, sf_dir, "documents"))


_LSH_PLANT_OFFSET = 1_000_000


@query(
    "lsh_dedup_recall",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, TRUE AS recall_ok
    FROM documents
    """,
)
def lsh_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18c recall contract as a driver-checkable row (the
    ann_recall_vs_exact pattern applied to the MLlib MinHashLSH route).

    Plant one textual near-dup per document (the text plus one rare
    token ⇒ token-set Jaccard ≈ |T|/(|T|+1) ≥ ~0.9), union, and run the
    shared MLlib pipeline. A planted pair escapes all 5 hash tables with
    p = (1−j)^5 ≤ 1e-5, so the expected aggregate recall is ≈ 1; the
    contract pins ≥ 0.95 — a regression in tokenization, the feature
    hash, or the LSH join flips recall_ok to FALSE → hash mismatch →
    red driver row. (The model is seeded, so the measured value is
    deterministic per fixture.)"""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        (F.col("doc_id") + _LSH_PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqxvplantmarker")).alias("text"),
    )
    pairs = mllib_lsh_pairs(docs.unionByName(planted))
    found = pairs.where(
        F.col("doc_id_b") == F.col("doc_id_a") + _LSH_PLANT_OFFSET
    )
    n_planted = docs.agg(F.count(F.lit(1)).alias("n")).select("n")
    return (
        n_planted.join(
            found.agg(F.count(F.lit(1)).alias("n_found")), how="cross"
        )
        .select(
            F.col("n").alias("n_planted"),
            (
                F.col("n_found").cast("double")
                >= F.lit(0.95) * F.col("n").cast("double")
            ).alias("recall_ok"),
        )
    )


# --------------------------------------------------------------------------
# B18d — embedding-cosine near-dup
# --------------------------------------------------------------------------


@query(
    "dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           {o_cosine('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {o_cosine('a.embedding', 'b.embedding')} >= 0.4
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18d: embedding-cosine near-dup pairs, via the threshold-adaptive
    router (dedup.embedding_router.embedding_dedup_pairs, mode="auto").

    Threshold note: production near-dup runs at ~0.95, where auto-routing
    picks the LSH-pruned path (see `dedup_embedding_ann`, which pins
    recall 1.0 on planted dups). The fixture vectors are uniform-random
    (near-orthogonal, max in-block cosine ≈0.47), so the operator is
    pinned at 0.4 here to keep the oracle check non-trivial (5 pairs at
    sf0.01, 86 at sf0.1) — and at t=0.4 the router correctly picks the
    EXACT salted grid join, because at that threshold the true-pair vs
    random-pair distance gap (1.10 vs 1.41) is too small for any
    sub-quadratic candidate scheme to keep recall 1.0. Low-threshold
    all-pairs is intrinsically O(n²); the router encodes the honest
    decision boundary instead of pretending LSH fixes it.
    """
    emb = scale_partitions(load_table(spark, sf_dir, "embeddings"), spark)
    return embedding_dedup_pairs(emb, threshold=0.4, mode="auto")


# --------------------------------------------------------------------------
# B18e — SimHash (signed bit-profile) dedup
# --------------------------------------------------------------------------

_SPARK_SIMHASH = (
    "aggregate(sequence(0, 15), cast(0 as bigint), (acc, b) -> acc * 2 + "
    "(CASE WHEN aggregate(transform(" + _SPARK_TOKS + ", "
    "tok -> 2 * ((cast(conv(substring(md5(tok), 1 + cast(b div 4 as int), 1), 16, 10) as int) "
    ">> (3 - cast(b % 4 as int))) & 1) - 1), "
    "cast(0 as bigint), (s, x) -> s + x) > 0 THEN 1 ELSE 0 END))"
)

_DUCK_SIMHASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 16)), "
    "(acc, b) -> acc * 2 + (CASE WHEN list_sum(list_transform(" + _DUCK_TOKS + ", "
    "tok -> 2 * ((CAST('0x' || substring(md5(tok), 1 + CAST(b // 4 AS INTEGER), 1) AS INTEGER) "
    ">> (3 - CAST(b % 4 AS INTEGER))) & 1) - 1)) > 0 THEN 1 ELSE 0 END))"
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_DUCK_SIMHASH} AS simhash FROM documents
    )
    SELECT doc_id, simhash,
           CAST(COUNT(*) OVER (PARTITION BY simhash) AS BIGINT) AS n_bucket,
           CAST(MIN(doc_id) OVER (PARTITION BY simhash) AS BIGINT) AS keeper_id
    FROM s
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18e: 16-bit SimHash — per-bit signed majority vote over md5 token
    hashes (Charikar's scheme, public algorithm), packed into a BIGINT.
    Identical-profile docs share a bucket (hamming-0 near-dups); wider
    hamming radii would multi-probe bit-flipped keys — same join shape.
    Entirely JVM expressions: nested higher-order folds, no UDF, no
    shuffle except the bucket window."""
    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    s = docs.select("doc_id", F.expr(_SPARK_SIMHASH).alias("simhash"))
    w = Window.partitionBy("simhash")
    return s.select(
        "doc_id",
        "simhash",
        F.count(F.lit(1)).over(w).cast("long").alias("n_bucket"),
        F.min("doc_id").over(w).cast("long").alias("keeper_id"),
    )


# SURVEY §2B B18's canonical registry name — the exact-Jaccard variant is
# the oracle-checkable face of near-dedup (the approx faces are
# dedup_minhash_pairs / dedup_near_lsh above).
_NGRAM_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {_DUCK_SHINGLES} AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
           len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
          len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
    """

dedup_near = query("dedup_near", oracle=_NGRAM_ORACLE)(
    lambda spark, sf_dir: dedup_ngram_jaccard(spark, sf_dir)
)


def _components_oracle() -> str:
    """Recursive-CTE transitive closure over the SAME banded-LSH pair SQL
    the dedup_minhash_pairs oracle uses (reused verbatim so the two
    stay in lockstep), min-reduced to the component id."""
    # read the raw dict, NOT all_oracles(): the latter triggers the
    # load-everything cascade mid-import of THIS module, which imports
    # text.queries before dedup_components is registered (circular)
    pairs_sql = registry._ORACLES["dedup_minhash_pairs"]
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
              UNION SELECT doc_id_b, doc_id_a FROM pairs),
    reach(v, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.v
    ),
    comp AS (SELECT v, MIN(r) AS component_id FROM reach GROUP BY v)
    SELECT d.doc_id,
           COALESCE(c.component_id, d.doc_id) AS component_id,
           d.doc_id = COALESCE(c.component_id, d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
    """


@query("dedup_components", oracle=_components_oracle())
def dedup_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18 closing step: candidate pairs → transitive components →
    keep-one-per-cluster flags, over the banded-LSH pairs. Spark side is
    iterative min-label propagation (dedup.components — one shuffle per
    round, rounds = cluster diameter ≲ 3 for near-dup cliques); the
    oracle computes the same fixpoint as a recursive-CTE closure."""
    from vector_ai_npm_spark.dedup.components import assign_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_pairs(spark, sf_dir)
    return assign_components(docs, pairs)


def _keep_best_oracle() -> str:
    """Components closure (same recursive CTE) + quality-ranked canonical
    selection: keep the LONGEST member per cluster, not the min-id."""
    pairs_sql = registry._ORACLES["dedup_minhash_pairs"]
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
              UNION SELECT doc_id_b, doc_id_a FROM pairs),
    reach(v, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.v
    ),
    comp AS (SELECT v, MIN(r) AS component_id FROM reach GROUP BY v),
    base AS (
      SELECT d.doc_id,
             COALESCE(c.component_id, d.doc_id) AS component_id,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
    )
    SELECT doc_id, component_id, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY component_id
                              ORDER BY n_tokens DESC, doc_id ASC) = 1
             AS keep_best
    FROM base
    """


@query("dedup_keep_best", oracle=_keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18 closing step, quality-aware variant: within each transitive
    near-dup cluster keep the HIGHEST-QUALITY member (longest token
    count, min-id tiebreak) instead of the arbitrary min-id canonical —
    the curation semantics real pipelines want (the best copy survives,
    not the first-crawled one). Plan: the components fixpoint (min-label
    propagation) plus ONE extra window over doc-count-sized rows keyed
    by component — negligible next to the pair generation."""

    from vector_ai_npm_spark.dedup.components import assign_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_pairs(spark, sf_dir)
    comp = assign_components(docs, pairs).select("doc_id", "component_id")
    base = docs.select(
        "doc_id", F.size(F.expr(_SPARK_TOKS)).cast("long").alias("n_tokens")
    ).join(comp, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return base.select(
        "doc_id",
        "component_id",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("keep_best"),
    )


@query(
    "dedup_incremental",
    oracle="WITH sh AS (SELECT doc_id, " + _DUCK_SHINGLES + """ AS shingles
      FROM documents),
    sig AS (SELECT doc_id, """
    + ", ".join(f"{_duck_minhash(i)} AS mh{i}" for i in range(N_MINHASH))
    + """ FROM sh),
    bands AS (
      SELECT doc_id, unnest(["""
    + ", ".join(_BAND_KEYS_DUCK)
    + """]) AS band_key FROM sig)
    SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_id_a,
           greatest(a.doc_id, b.doc_id) AS doc_id_b,
           CASE WHEN a.doc_id % 2 = 0 THEN 'batch_prior'
                ELSE 'batch_batch' END AS pair_type
    FROM bands a JOIN bands b
      ON a.band_key = b.band_key
     AND b.doc_id % 2 = 1
     AND a.doc_id <> b.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18 at steady state: INCREMENTAL near-dup — the daily-ingest
    shape. A 100 TB corpus is deduped once; after that each arriving
    batch must be checked against the corpus WITHOUT re-deduping the
    world. The stored artifact that makes this linear is the minhash
    SIGNATURE table (72 bytes/doc here vs the full text): candidates =
    batch bands ⋈ (stored ∪ batch) bands, restricted so the prior
    corpus NEVER self-joins — prior×prior pairs were already resolved
    in earlier runs. Daily cost is O(batch + emitted matches) shuffle
    plus a linear scan of the signature table; corpus text is never
    read.

    Fixture split: even doc_ids play the stored corpus (signatures
    recomputed here deterministically — in production they are read
    back from the store written at last run), odd doc_ids are the new
    batch. Output pairs are typed `batch_prior` (dup of something
    already ingested → drop/link the new doc) vs `batch_batch`
    (intra-batch dup → canonicalize within the batch), normalized to
    (min, max) ids — the same banded-equi-join discipline as
    dedup_minhash_pairs, same band keys, so the signature table is
    shared between the full and incremental paths."""
    sig = dedup_minhash_signature(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[F.expr(k) for k in _BAND_KEYS_SPARK])).alias(
            "band_key"
        ),
    )
    batch = bands.where(F.col("doc_id") % 2 == 1)
    a = bands.alias("a")
    b = batch.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id_b"),
            F.when(F.col("a.doc_id") % 2 == 0, "batch_prior")
            .otherwise("batch_batch")
            .alias("pair_type"),
        )
        .distinct()
    )


_SPAN_W = 64   # span length (chars) — the memorization-risk unit
_SPAN_S = 16   # stride between window starts


@query(
    "dedup_repeated_spans",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             md5(substr(text, CAST(i * {_SPAN_S} AS INTEGER) + 1, {_SPAN_W}))
               AS h
      FROM documents,
           UNNEST(range(0, (length(text) - {_SPAN_W}) // {_SPAN_S} + 1))
             AS t(i)
      WHERE length(text) >= {_SPAN_W}
    ),
    dup AS (
      SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN h IN (SELECT h FROM dup)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(SUM(CASE WHEN h IN (SELECT h FROM dup)
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS shared_ratio
    FROM w GROUP BY doc_id
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18a'': cross-document repeated-SPAN detection — the exact-
    substring-dedup screen (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): a fixed-length character
    window repeated verbatim across documents marks memorization-risk
    boilerplate that token-level Jaccard dilutes away. Per document:
    window count, windows shared with ANY other document, and the
    shared ratio a curation pipeline thresholds on.

    Spark shape: {_SPAN_W}-char windows at stride {_SPAN_S} are
    generated INLINE (sequence + transform + md5 in whole-stage
    codegen — only 16-byte hashes leave the row, never substrings),
    one hash shuffle finds spans with ≥2 distinct docs, a left-semi
    mark joins the duplicate set back to the window stream, and one
    doc-keyed aggregate emits the scores. A true suffix-array pass
    finds ARBITRARY-length repeats; the strided fixed window is the
    linear, shuffle-friendly approximation (detects any repeat ≥
    W + S − 1 chars with ≥1 aligned window) that is the standard
    trade at corpus scale."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= _SPAN_W
    )
    w = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST((length(text) - {_SPAN_W}) "
                f"DIV {_SPAN_S} AS INT)), "
                f"i -> md5(substring(text, i * {_SPAN_S} + 1, {_SPAN_W})))"
            )
        ).alias("h"),
    )
    dup = (
        w.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    marked = w.join(
        dup.withColumn("is_dup", F.lit(1)), "h", "left"
    ).select("doc_id", F.coalesce(F.col("is_dup"), F.lit(0)).alias("is_dup"))
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("is_dup").cast("long").alias("n_shared"),
        (
            F.sum("is_dup").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("shared_ratio"),
    )


# `dedup_source_pair_rate` — near-dup incidence per source pair: the
# DOC-LEVEL mirror-detection evidence next to `text_vocab_overlap`'s
# word-level one (two sources can share vocabulary without sharing
# documents; shared near-dup PAIRS are the stronger signal a crawler
# is fetching the same site twice).  Reuses the hash-green banded-LSH
# candidate pairs verbatim (both faces — the Spark callable and the
# oracle CTE — so this face can never drift from the dedup family),
# joins sources onto both sides, canonicalizes the pair, and emits
# exact counts plus the pair rate over the possible cross-pair count.

@query(
    "dedup_source_pair_rate",
    oracle=f"""
    WITH cand AS ({registry._ORACLES['dedup_minhash_pairs']}),
    pairs AS (SELECT DISTINCT doc_id_a, doc_id_b FROM cand),
    tagged AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_id_a
      JOIN documents db ON db.doc_id = p.doc_id_b
    ),
    m AS (
      SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM tagged GROUP BY 1, 2
    ),
    ns AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT m.source_a, m.source_b, m.n_pairs,
           na.n_docs AS docs_a, nb.n_docs AS docs_b,
           CAST(CASE WHEN m.source_a = m.source_b
                     THEN (na.n_docs * (na.n_docs - 1)) // 2
                     ELSE na.n_docs * nb.n_docs END AS BIGINT)
             AS pairs_possible,
           CAST(m.n_pairs AS DOUBLE)
             / CAST(CASE WHEN m.source_a = m.source_b
                         THEN (na.n_docs * (na.n_docs - 1)) // 2
                         ELSE na.n_docs * nb.n_docs END AS DOUBLE)
             AS pair_rate
    FROM m
    JOIN ns na ON na.source = m.source_a
    JOIN ns nb ON nb.source = m.source_b
    """,
)
def dedup_source_pair_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup incidence per source pair — see the notes above.
    Candidate pairs come from dedup_minhash_pairs verbatim; sources
    attach by two broadcast joins on the output-bound pair frame; the
    matrix is ≤|sources|² rows."""
    pairs = (
        dedup_minhash_pairs(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(
        F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")
    )
    tagged = (
        pairs.join(F.broadcast(da), "doc_id_a")
        .join(F.broadcast(db), "doc_id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    m = tagged.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    ns = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    na = ns.select(
        F.col("source").alias("source_a"), F.col("n_docs").alias("docs_a")
    )
    nb = ns.select(
        F.col("source").alias("source_b"), F.col("n_docs").alias("docs_b")
    )
    possible = F.when(
        F.col("source_a") == F.col("source_b"),
        F.expr("docs_a * (docs_a - 1) div 2"),
    ).otherwise(F.col("docs_a") * F.col("docs_b")).cast("bigint")
    return (
        m.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a", "source_b", "n_pairs", "docs_a", "docs_b",
            possible.alias("pairs_possible"),
            (F.col("n_pairs").cast("double") / possible.cast("double")).alias(
                "pair_rate"
            ),
        )
    )


# `dedup_near_lsh_routed` — the banded-minhash candidate core +
# exact token-set jaccard that `mllib_lsh_pairs` routes to above
# MLLIB_LSH_MAX_DOCS (above, r12: MLlib's OR-only
# MinHashLSH is quadratic on text corpora — measured 10-minute blowout
# at sf1's 50k docs vs 40 s routed).  The route only activates at
# scale, so THIS face pins its semantics with a full hash oracle at
# every sf: candidates from the same band SQL the dedup_minhash_pairs
# oracle uses, exact jaccard distance, threshold 0.6.

def _routed_oracle() -> str:
    """Candidates from the SAME band SQL as the dedup_minhash_pairs
    oracle (reused verbatim — the two stay in lockstep), hydrated with
    token sets and filtered by exact jaccard distance."""
    pairs_sql = registry._ORACLES["dedup_minhash_pairs"]
    return f"""
    WITH cand AS ({pairs_sql}),
    toks AS (
      SELECT doc_id, list_distinct({_DUCK_TOKS}) AS tok_set
      FROM documents
      WHERE len({_DUCK_TOKS}) > 0
    )
    SELECT c.doc_id_a, c.doc_id_b,
           1.0 - CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.tok_set, b.tok_set)))
             AS jaccard_dist
    FROM cand c
    JOIN toks a ON c.doc_id_a = a.doc_id
    JOIN toks b ON c.doc_id_b = b.doc_id
    WHERE 1.0 - CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE) /
                len(list_distinct(list_concat(a.tok_set, b.tok_set)))
          <= 0.6
    """


@query("dedup_near_lsh_routed", oracle=_routed_oracle())
def dedup_near_lsh_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path of mllib_lsh_pairs, hash-oracled at every sf
    (notes above): banded candidates + exact token jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    return _banded_routed_pairs(docs.select("doc_id", "text"), 0.6)
