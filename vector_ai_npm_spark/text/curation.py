"""Training-corpus curation operators (north-star text-analysis family).

The pre-training data playbook published with Gopher/MassiveText
(Rae et al. 2021, arXiv:2112.11446) and RefinedWeb (Penedo et al. 2023,
arXiv:2306.01116) runs a fixed sequence of per-document passes before
any model sees a byte: rule-based quality filtering, repetition
filtering, PII scrubbing, source mixing, and sequence packing.  Each is
implemented here as a registered oracle-checked query over the fixture
``documents`` table.

Every operator is a map-only pass or a single window/agg keyed by
``doc_id``/``source`` — no self-joins, no driver collection — so each
holds at 100 TB: cost is one scan plus (at most) one hash shuffle whose
key cardinality grows with the data.

Also here: `curate_domain_cap`, `text_ngram_novelty`, each with its
notes in a comment above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.operators.eval_metrics import (
    _duck_hash_mod,
    _spark_hash_mod,
)
from vector_ai_npm_spark.registry import query
from vector_ai_npm_spark.text.queries import _DUCK_TOKS, _SPARK_TOKS

# Gopher rule C4/MassiveText-style thresholds, tuned so the synthetic
# fixture splits non-vacuously (word counts there span 10..99):
_MIN_WORDS, _MAX_WORDS = 50, 100_000
_MIN_MWL, _MAX_MWL = 3.0, 10.0
_STOP_SET = ("the", "a", "of", "and", "to", "in", "is")
_MIN_STOP_HITS = 2
_MAX_DUP_FRAC = 0.55
_MAX_TOP_BIGRAM_FRAC = 0.05
_PACK_BUDGET = 512  # tokens per packed training sequence
_MIX_QUOTA = 10  # docs sampled per source


@query(
    "curate_gopher_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             CAST(length(toks) AS BIGINT) AS n_words,
             CAST(CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS DOUBLE) / length(toks) AS DOUBLE) AS mean_word_len,
             CAST(length(list_intersect(list_distinct(toks),
                  ['the','a','of','and','to','in','is'])) AS BIGINT)
               AS stop_hits
      FROM t WHERE length(toks) > 0
    )
    SELECT doc_id, n_words, mean_word_len, stop_hits,
           CAST(CASE WHEN n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
                      AND mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL}
                      AND stop_hits >= {_MIN_STOP_HITS}
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM m
    """,
)
def curate_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (arXiv:2112.11446 §A1.1).

    Word-count bounds, mean-word-length bounds, and a stopword-presence
    check, emitted per document with the keep verdict.  Pure map-only
    higher-order array folds — zero shuffles at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(_SPARK_TOKS)
    m = (
        docs.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_words"),
            (
                F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))")
                .cast("double")
                / F.size("toks")
            )
            .cast("double")
            .alias("mean_word_len"),
            F.size(
                F.array_intersect(
                    F.array_distinct(F.col("toks")),
                    F.array(*[F.lit(s) for s in _STOP_SET]),
                )
            )
            .cast("bigint")
            .alias("stop_hits"),
        )
    )
    keep = (
        F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
        & F.col("mean_word_len").between(_MIN_MWL, _MAX_MWL)
        & (F.col("stop_hits") >= _MIN_STOP_HITS)
    )
    return m.withColumn("keep", keep.cast("int"))


@query(
    "curate_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    w AS (
      SELECT doc_id,
             CAST(length(toks) AS BIGINT) AS n_words,
             CAST(1.0 - CAST(length(list_distinct(toks)) AS DOUBLE)
                  / length(toks) AS DOUBLE) AS dup_word_frac
      FROM t WHERE length(toks) > 0
    ),
    x AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
      FROM t
    ),
    b AS (
      SELECT doc_id,
             tok || ' ' || lead(tok) OVER
               (PARTITION BY doc_id ORDER BY pos) AS bigram
      FROM x
    ),
    c AS (
      SELECT doc_id, bigram, COUNT(*) AS n
      FROM b WHERE bigram IS NOT NULL GROUP BY doc_id, bigram
    ),
    f AS (
      SELECT doc_id,
             CAST(CAST(MAX(n) AS DOUBLE) / SUM(n) AS DOUBLE)
               AS top_bigram_frac
      FROM c GROUP BY doc_id
    )
    SELECT w.doc_id, w.n_words, w.dup_word_frac,
           CAST(COALESCE(f.top_bigram_frac, 0.0) AS DOUBLE)
             AS top_bigram_frac,
           CAST(CASE WHEN w.dup_word_frac <= {_MAX_DUP_FRAC}
                      AND COALESCE(f.top_bigram_frac, 0.0)
                          <= {_MAX_TOP_BIGRAM_FRAC}
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM w LEFT JOIN f ON w.doc_id = f.doc_id
    """,
)
def curate_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (Gopher §A1.1: duplicate-word and top-2-gram
    fractions).

    Word-level stats come from array folds (no shuffle); the top-bigram
    fraction explodes once and aggregates twice, both keyed by
    ``doc_id`` — shuffle volume is one row per distinct (doc, bigram),
    linear in corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(_SPARK_TOKS).alias("toks")).where(
        F.size("toks") > 0
    )
    w = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
        )
        .cast("double")
        .alias("dup_word_frac"),
    )
    x = t.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    b = x.select(
        "doc_id",
        F.concat_ws(
            " ",
            "tok",
            F.lead("tok").over(Window.partitionBy("doc_id").orderBy("pos")),
        ).alias("bigram"),
        F.lead("tok")
        .over(Window.partitionBy("doc_id").orderBy("pos"))
        .alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    f = (
        b.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            (F.max("n").cast("double") / F.sum("n"))
            .cast("double")
            .alias("top_bigram_frac")
        )
    )
    out = w.join(f, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        F.coalesce("top_bigram_frac", F.lit(0.0))
        .cast("double")
        .alias("top_bigram_frac"),
    )
    keep = (F.col("dup_word_frac") <= _MAX_DUP_FRAC) & (
        F.col("top_bigram_frac") <= _MAX_TOP_BIGRAM_FRAC
    )
    return out.withColumn("keep", keep.cast("int"))


_EMAIL_PAT = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_PAT = r"\+1-555-[0-9]{4}"


@query(
    "curate_pii_redact",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(n_chars % 10000 AS VARCHAR), 4, '0')
               AS with_pii
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             CAST(length(regexp_extract_all(with_pii,
                  '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
             CAST(length(regexp_extract_all(with_pii,
                  '{_PHONE_PAT}')) AS BIGINT) AS n_phones,
             regexp_replace(regexp_replace(with_pii,
                  '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                  '{_PHONE_PAT}', '<PHONE>', 'g') AS redacted
      FROM p
    )
    SELECT doc_id, n_emails, n_phones,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           md5(redacted) AS redacted_md5
    FROM r
    """,
)
def curate_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (RefinedWeb §4.4-style regex redaction).

    The fixture corpus is synthetic and contains no real PII, so a
    deterministic e-mail + phone string derived from (doc_id, n_chars)
    is appended first; both engines then redact with the same regexes
    and the oracle pins match counts plus an md5 of the redacted text.
    Map-only: regex extraction/replacement per row, zero shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("n_chars") % 10000).cast("string"), 4, "0"),
    )
    p = docs.select("doc_id", with_pii.alias("with_pii"))
    redacted = F.regexp_replace(
        F.regexp_replace("with_pii", _EMAIL_PAT, "<EMAIL>"),
        _PHONE_PAT,
        "<PHONE>",
    )
    # Patterns go through the Python API, NOT an F.expr SQL string: the
    # SQL literal parser strips unknown escapes (\+ -> +, \. -> .), which
    # both corrupts the email regex and makes the phone regex invalid
    # Java syntax (INVALID_PARAMETER_VALUE.PATTERN at runtime).
    return p.select(
        "doc_id",
        F.size(F.regexp_extract_all("with_pii", F.lit(_EMAIL_PAT), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("with_pii", F.lit(_PHONE_PAT), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


@query(
    "curate_domain_mix",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= {_MIX_QUOTA}
    """,
)
def curate_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified source-mix sampling (MassiveText §A1.3 domain mixing).

    A deterministic per-source quota sample: order docs inside each
    source by md5(doc_id) — a seedless uniform shuffle both engines
    compute identically — and keep the first N.  One hash shuffle on
    ``source``; with many sources this is the standard quota-sampling
    shape (skewed giant sources would swap in a per-partition reservoir,
    but the md5 ordering itself is already rank-stable under
    repartitioning).
    """
    docs = load_table(spark, sf_dir, "documents")
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return (
        docs.select("doc_id", "source", rn.alias("rn"))
        .where(F.col("rn") <= _MIX_QUOTA)
        .select("doc_id", "source", F.col("rn").cast("bigint").alias("rn"))
    )


@query(
    "curate_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(length({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM t
    )
    SELECT source, CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM c GROUP BY source, pack_id
    """,
)
def curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing prepass (fixed token-budget bins per source).

    Pre-training dataloaders pack documents into fixed-length training
    sequences; the distributed prepass assigns each doc a pack id from
    the running token total within its source (a doc starts a new pack
    when the cumulative total crosses a budget boundary — deterministic,
    order-defined, identical in both engines).  One window + one agg,
    both keyed by ``source``: at 100 TB the window runs per source
    partition; a single giant source would be sub-keyed by a date/shard
    column the same way.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.expr(_SPARK_TOKS)).cast("bigint").alias("n_tokens"),
    )
    cum_before = F.coalesce(
        F.sum("n_tokens").over(
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    c = t.withColumn("cum_before", cum_before)
    return (
        c.withColumn(
            "pack_id", F.expr(f"cum_before div {_PACK_BUDGET}").cast("bigint")
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Test-set decontamination (n-gram overlap vs a held-out benchmark set)
# --------------------------------------------------------------------------

# 8-token shingles, the usual decontamination n-gram size (13 in GPT-3's
# report; smaller here so the ~100-token fixture docs carry enough grams)
_SPARK_8GRAMS = (
    f"CASE WHEN size({_SPARK_TOKS}) >= 8 THEN array_distinct(transform("
    f"sequence(1, size({_SPARK_TOKS}) - 7), "
    f"i -> array_join(slice({_SPARK_TOKS}, i, 8), ' '))) "
    f"ELSE array(array_join({_SPARK_TOKS}, ' ')) END"
)
_DUCK_8GRAMS = (
    f"CASE WHEN len({_DUCK_TOKS}) >= 8 THEN list_distinct(list_transform("
    f"range(1, len({_DUCK_TOKS}) - 6), "
    f"i -> array_to_string({_DUCK_TOKS}[i:i+7], ' '))) "
    f"ELSE [array_to_string({_DUCK_TOKS}, ' ')] END"
)

# deterministic pseudo-benchmark: every 97th document plays the eval set
_BENCH_MOD = 97


@query(
    "curate_decontaminate",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest({_DUCK_8GRAMS}) AS gram FROM documents
    ), bench AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0
    ), hits AS (
      SELECT DISTINCT g.doc_id
      FROM g JOIN bench ON g.gram = bench.gram
      WHERE g.doc_id % {_BENCH_MOD} != 0
    )
    SELECT d.doc_id,
           d.doc_id % {_BENCH_MOD} = 0 AS is_benchmark,
           h.doc_id IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Gopher eval-overlap filter,
    arXiv:2005.14165 §C / arXiv:2112.11446): flag every training
    document sharing any 8-token shingle with the held-out benchmark
    set (here: the deterministic doc_id % 97 == 0 slice).

    100 TB shape: the benchmark gram set is eval-suite-sized (thousands
    of docs), so it BROADCASTS — the corpus side streams through a
    broadcast left-semi join on the gram key and aggregates distinct
    doc ids; the corpus is never shuffled by gram. Training docs whose
    flag is true are dropped (or quarantined) before training."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(F.expr(_SPARK_8GRAMS)).alias("gram")
    )
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench_grams = grams.where(is_bench).select("gram").distinct()
    hits = (
        grams.where(~is_bench)
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            is_bench.alias("is_benchmark"),
            F.coalesce("_hit", F.lit(False)).alias("contaminated"),
        )
    )


@query(
    "text_rarity_score",
    oracle=f"""
    WITH x AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ), df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM x GROUP BY tok
    )
    SELECT x.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(df.doc_freq) AS BIGINT) AS sum_df,
           CAST(MIN(df.doc_freq) AS BIGINT) AS rarest_df
    FROM x JOIN df ON x.tok = df.tok
    GROUP BY x.doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity quality signal: per document, the total and minimum
    corpus document-frequency of its tokens — the integer core of a
    unigram-LM quality score (docs dominated by rare/garbage tokens have
    low sum_df; a downstream filter thresholds sum_df/n_toks without
    re-scanning). Integer outputs keep the oracle bit-stable (no ln —
    the lesson of text_tfidf_scored's 1-ulp divergence).

    Plan: ONE tokenize Generate (the TF-IDF discipline — a second
    Generate tokenizes 100 TB twice): tf per (doc, tok) collapses the
    exploded stream map-side; doc_freq comes from a term-window over
    the tf aggregate, not a re-aggregation of raw tokens; the final
    doc-keyed aggregate folds Σtf, Σtf·df, min df. Shuffles touch only
    the (doc, tok, tf) aggregate — never the raw token stream twice."""

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.expr(_SPARK_TOKS)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = F.count(F.lit(1)).over(Window.partitionBy("tok"))
    return (
        tf.withColumn("doc_freq", df)
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_toks"),
            F.sum(F.col("tf") * F.col("doc_freq")).alias("sum_df"),
            F.min("doc_freq").alias("rarest_df"),
        )
    )


@query(
    "curate_split_train_val",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#split'),
                  1, 15) AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 96 THEN 'train'
                WHEN bucket < 98 THEN 'val' ELSE 'test' END AS split
    FROM s
    """,
)
def curate_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe train/val/test split (96/2/2) via
    keyed md5 hash-threshold — the sample_ops discipline applied to
    dataset splitting. Hashing the DOCUMENT id (never the chunk id)
    means every derived row of a document — chunks, sub-chunks,
    embeddings — inherits one split downstream by joining on doc_id, so
    no document straddles train and eval (the leakage failure mode of
    row-level random splits). Partitioning-independent, engine-stable,
    re-derivable anywhere from the id alone: no split table to keep in
    sync at 100 TB, though you CAN materialize it as a partition column
    (sink_parquet pattern) for split-pruned scans."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws("#", F.col("doc_id").cast("string"), F.lit("split")))
    bucket = F.conv(F.substring(key, 1, 15), 16, 10).cast("bigint") % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 96, "train")
        .when(bucket < 98, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "curate_strip_html",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
             || '</title><script>var x=1;</script></head><body><div class="nav">menu</div><p>'
             || text || '</p><footer>(c) corp</footer></body></html>' AS html
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(regexp_replace(html,
                 '(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?s)<nav[^>]*>.*?</nav>|<footer[^>]*>.*?</footer>|<header[^>]*>.*?</header>|<div class="nav">.*?</div>', ' ', 'g'),
                 '<[^>]+>', ' ', 'g')) AS stripped
      FROM h
    )
    SELECT doc_id,
           regexp_replace(stripped, ' +', ' ', 'g') AS clean_text,
           CAST(length(regexp_replace(stripped, ' +', ' ', 'g')) AS BIGINT)
             AS n_chars
    FROM s
    """,
)
def curate_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (the RefinedWeb/trafilatura stage as regex
    plumbing): drop script/style blocks, chrome containers (nav, footer,
    header), then all remaining tags, and collapse whitespace — per
    document, map-only, zero shuffles at any scale. The fixture has no
    HTML, so the page is SYNTHESIZED deterministically around the text
    (same string in both engines — the synth_mdx discipline), which
    makes the stripper itself the thing under oracle test. In
    production the regex core swaps for a real extractor (trafilatura /
    readability) behind the same (doc_id, html) → (doc_id, clean_text)
    signature — this pins the Spark-side shape and the oracle plumbing."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title><script>var x=1;</script></head><body><div class="nav">menu</div><p>'),
        F.col("text"),
        F.lit("</p><footer>(c) corp</footer></body></html>"),
    )
    stripped = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    html,
                    r"(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>",
                    " ",
                ),
                r'(?s)<nav[^>]*>.*?</nav>|<footer[^>]*>.*?</footer>|<header[^>]*>.*?</header>|<div class="nav">.*?</div>',
                " ",
            ),
            r"<[^>]+>",
            " ",
        )
    )
    clean = F.regexp_replace(stripped, " +", " ")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).cast("long").alias("n_chars"),
    )


@query(
    "curate_quality_classifier",
    oracle="""
    SELECT scope, ok FROM (VALUES
      ('both_classes_present', TRUE), ('coverage', TRUE),
      ('coef_finite', TRUE), ('auc_floor', TRUE), ('rule_recovery', TRUE)
    ) t(scope, ok)
    """,
)
def curate_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fasttext/DataComp pattern
    layered over Gopher rules): train an MLlib LogisticRegression on
    the WEAK LABELS produced by the rule filter (`curate_gopher_quality`
    keep verdicts) from the same cheap features (n_words,
    mean_word_len, stop_hits) — the production recipe where the learned
    model then generalizes the rules to held-out corpora. Contract:

      * both_classes_present / coverage — the weak-label set is
        non-degenerate and every tokenizable doc gets a prediction;
      * coef_finite — the fit converged to finite coefficients;
      * auc_floor — train AUC ≥ 0.85: the model must substantially
        recover a label that IS a function of its features;
      * rule_recovery — ≥ 80% of predictions agree with the rule
        verdict at the 0.5 threshold.

    Scale: featurization is the map-only Gopher fold; LR training is
    MLlib's treeAggregate gradient loop (constant-size driver state);
    scoring is one distributed pass. AUC floors (not exact values) keep
    the contract robust to float-fold order across partitionings."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(_SPARK_TOKS)
    m = (
        docs.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            "doc_id",
            F.size("toks").cast("double").alias("n_words"),
            (
                F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))")
                .cast("double")
                / F.size("toks")
            ).alias("mean_word_len"),
            F.size(
                F.array_intersect(
                    F.array_distinct(F.col("toks")),
                    F.array(*[F.lit(s) for s in _STOP_SET]),
                )
            )
            .cast("double")
            .alias("stop_hits"),
        )
        .withColumn(
            "label",
            (
                F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
                & F.col("mean_word_len").between(_MIN_MWL, _MAX_MWL)
                & (F.col("stop_hits") >= _MIN_STOP_HITS)
            ).cast("double"),
        )
    )
    feats = VectorAssembler(
        inputCols=["n_words", "mean_word_len", "stop_hits"],
        outputCol="features",
    ).transform(m)
    lr = LogisticRegression(
        maxIter=50, regParam=0.01, featuresCol="features", labelCol="label"
    )
    model = lr.fit(feats)
    import math

    coef_finite = bool(
        all(math.isfinite(c) for c in model.coefficients)
        and math.isfinite(model.intercept)
    )
    scored = model.transform(feats)
    auc = BinaryClassificationEvaluator(labelCol="label").evaluate(scored)
    stats = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("n_pos"),
        F.sum(
            (F.col("prediction") == F.col("label")).cast("long")
        ).alias("n_agree"),
    ).crossJoin(m.agg(F.count(F.lit(1)).alias("n_in")))
    flags = stats.select(
        (
            (F.col("n_pos") > 0) & (F.col("n_pos") < F.col("n"))
        ).alias("both_classes_present"),
        (F.col("n") == F.col("n_in")).alias("coverage"),
        F.lit(coef_finite).alias("coef_finite"),
        F.lit(bool(auc >= 0.85)).alias("auc_floor"),
        (
            F.col("n_agree").cast("double") >= 0.8 * F.col("n").cast("double")
        ).alias("rule_recovery"),
    )
    return flags.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("scope"), F.col(s).alias("ok"))
                    for s in (
                        "both_classes_present", "coverage", "coef_finite",
                        "auc_floor", "rule_recovery",
                    )
                ]
            )
        ).alias("r")
    ).select("r.scope", "r.ok")


_TEMP_BUDGET = 300  # total sampled docs across language domains


def _o_sqrt_share_quota() -> str:
    """DuckDB CTEs for the temperature-α=0.5 quota table (shared shape
    with the Spark side; sqrt is IEEE-correctly-rounded in both engines
    and the cross-domain sum uses the exact-decimal fold, so quotas are
    bit-identical)."""
    from vector_ai_npm_spark.functions.numeric import o_dsum

    return f"""
    c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY lang
    ),
    s AS (SELECT {o_dsum('sqrt(CAST(n AS DOUBLE))')} AS tot FROM c),
    q AS (
      SELECT lang, n,
             CAST(ceil({_TEMP_BUDGET} * sqrt(CAST(n AS DOUBLE)) / s.tot)
               AS BIGINT) AS quota
      FROM c, s
    )
    """


@query(
    "curate_mix_temperature",
    oracle=f"""
    WITH {_o_sqrt_share_quota()},
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.lang, CAST(r.rn AS BIGINT) AS rn, q.quota
    FROM r JOIN q ON q.lang = r.lang
    WHERE r.rn <= q.quota
    """,
)
def curate_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted domain mixing (the multilingual-LM
    sampling rule: domain share ∝ n_d^α with α = 0.5, upweighting
    small languages so the head domain can't drown the tail —
    `curate_domain_mix`'s fixed-quota sibling with DATA-DERIVED
    quotas).

    α is fixed at 0.5 so the reweight is sqrt — IEEE-correctly-rounded
    in both engines, unlike a general pow() whose libm low bits differ.
    The cross-domain normalizer folds through exact decimal; quota
    arithmetic is then per-row double.

    Plan: one tiny per-domain count aggregate → quota table (O(langs)
    rows, broadcast); docs rank inside their domain by md5(doc_id) —
    the seedless engine-stable shuffle — and keep rank ≤ quota. One
    hash shuffle on the domain key serves both the count and the rank
    window."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    from vector_ai_npm_spark.functions.numeric import dsum

    s = F.broadcast(c.agg(dsum(F.sqrt(F.col("n").cast("double")), "tot")))
    q = c.crossJoin(s).select(
        "lang",
        F.ceil(
            F.lit(_TEMP_BUDGET) * F.sqrt(F.col("n").cast("double")) / F.col("tot")
        )
        .cast("long")
        .alias("quota"),
    )
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    r = docs.select("doc_id", "lang", rn.alias("rn"))
    return (
        r.join(F.broadcast(q), "lang")
        .where(F.col("rn") <= F.col("quota"))
        .select(
            "doc_id", "lang", F.col("rn").cast("bigint").alias("rn"), "quota"
        )
    )


@query(
    "curate_compression_ratio",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           TRUE AS ratio_in_bounds,
           TRUE AS repetition_compresses_better
    FROM documents
    """,
)
def curate_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressibility quality screen (the CCNet/RefinedWeb-family
    heuristic): templated/repetitive text compresses far better than
    natural prose, so zlib ratio (compressed/raw bytes) is a cheap
    model-free repetition detector — pipelines drop or down-weight
    documents below a ratio floor.

    zlib is deterministic for a fixed input and level, but no SQL
    engine can mirror it, so the driver face is a CONTRACT: beside the
    hash-matchable length, (a) the compressed size respects zlib's
    worst-case envelope — raw + 5·ceil(raw/16383) + 6 bytes (stored
    deflate blocks + header/adler; a flat 1.1× ratio bound failed the
    sf0.1 sweep on a 48-byte doc whose fixed overhead alone is 12.5% —
    round-8 finding) — and (b) the same document repeated 4×
    compresses to a strictly LOWER ratio than the original, the
    monotone property the screen relies on. Both run in ONE Arrow
    batch pass (zlib over the batch's byte payloads — the same
    mapInPandas shape as the multimodal decoders); at corpus scale
    this is a map-only stage, no shuffle at all."""
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _ratios(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            def stats(s: str) -> tuple[float, bool]:
                raw = s.encode("utf-8")
                n = max(1, len(raw))
                c = len(zlib.compress(raw, 6))
                # zlib worst case: stored blocks + header/adler
                bound = n + 5 * (n // 16383 + 1) + 6
                return c / n, 0 < c <= bound

            pairs = pdf["text"].map(stats)
            r4 = pdf["text"].map(lambda s: stats(s * 4)[0])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_chars": pdf["text"].map(len).astype("int64"),
                    "ratio": pairs.map(lambda p: p[0]).astype("float64"),
                    "in_bounds": pairs.map(lambda p: p[1]).astype("bool"),
                    "ratio_rep4": r4.astype("float64"),
                }
            )

    scored = docs.mapInPandas(
        _ratios,
        schema="doc_id long, n_chars long, ratio double, "
        "in_bounds boolean, ratio_rep4 double",
    )
    return scored.select(
        "doc_id",
        "n_chars",
        F.col("in_bounds").alias("ratio_in_bounds"),
        (F.col("ratio_rep4") < F.col("ratio")).alias(
            "repetition_compresses_better"
        ),
    )


# --------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al., NeurIPS 2023)
# --------------------------------------------------------------------------

_DSIR_B = 256  # hashed feature buckets (the paper uses hashed n-grams)

# md5 is the cross-engine hash (same discipline as dedup/queries.py):
# first 8 hex chars -> non-negative 32-bit int -> bucket
_DSIR_SPARK_BUCKET = (
    f"pmod(CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT), {_DSIR_B})"
)
_DSIR_DUCK_BUCKET = (
    f"(CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % {_DSIR_B})"
)


def _dsir_doc_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket, n) hashed-unigram counts per document —
    ONE tokenize + one keyed aggregate; every downstream DSIR quantity
    (bucket marginals, per-doc masses, weights) derives from this frame
    without touching the corpus text again."""
    return (
        docs.select(
            "doc_id", "lang", F.explode(F.expr(_SPARK_TOKS)).alias("tok")
        )
        .select("doc_id", "lang", F.expr(_DSIR_SPARK_BUCKET).alias("bucket"))
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "curate_dsir_masses",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS tok FROM documents
    ), db AS (
      SELECT doc_id, lang, {_DSIR_DUCK_BUCKET} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM t GROUP BY 1, 2, 3
    ), tm AS (
      SELECT bucket, CAST(SUM(n) AS BIGINT) AS c_t
      FROM db WHERE lang = 'en' GROUP BY bucket
    ), rm AS (
      SELECT bucket, CAST(SUM(n) AS BIGINT) AS c_r FROM db GROUP BY bucket
    )
    SELECT db.doc_id,
           CAST(SUM(db.n) AS BIGINT) AS n_toks,
           CAST(SUM(db.n * COALESCE(tm.c_t, 0)) AS BIGINT) AS target_mass,
           CAST(SUM(db.n * rm.c_r) AS BIGINT) AS raw_mass
    FROM db
    LEFT JOIN tm ON tm.bucket = db.bucket
    JOIN rm ON rm.bucket = db.bucket
    GROUP BY db.doc_id
    """,
)
def curate_dsir_masses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling — Xie et al.,
    NeurIPS 2023), the integer-exact face: hashed-unigram bucket counts
    per document, bucket marginals under the TARGET distribution (the
    'en' slice — DSIR's trusted corpus) and under the RAW corpus, and
    each document's count-weighted masses against both. This pins the
    whole distributed 90% of DSIR — tokenizer, md5 bucket hash, both
    marginals, the per-doc aggregation — in exact BIGINTs the oracle
    recomputes; only the final ln() of the smoothed likelihood ratio is
    excluded (ln is engine-divergent by 1 ulp — the same boundary
    text_tfidf draws, measured at text/queries.py:271), and that lives
    in `curate_dsir_select` with a planted-skew pytest.

    Scale shape: one tokenize pass; the bucket marginals are
    {_DSIR_B}-row frames (broadcast joins back to the doc-bucket frame
    — the fact table never reshuffles); per-doc masses are one keyed
    aggregate. At 100 TB the only corpus-scale operations are the
    tokenize and two hash aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    db = _dsir_doc_buckets(docs)
    tm = (
        db.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.sum("n").alias("c_t"))
    )
    rm = db.groupBy("bucket").agg(F.sum("n").alias("c_r"))
    return (
        db.join(F.broadcast(tm), "bucket", "left")
        .join(F.broadcast(rm), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_toks"),
            F.sum(F.col("n") * F.coalesce(F.col("c_t"), F.lit(0)))
            .alias("target_mass"),
            F.sum(F.col("n") * F.col("c_r")).alias("raw_mass"),
        )
    )


def dsir_weights(docs: DataFrame, target_lang: str = "en") -> DataFrame:
    """Per-document DSIR log importance weight:
    Σ_b count_b · ( ln p̂_T(b) − ln p̂_R(b) ), add-1-smoothed bucket
    unigram models for the target slice T and the raw corpus R. The
    weight is the log likelihood ratio of the doc's hashed features
    under target vs raw — DSIR resamples with probability ∝ exp(w)."""
    db = _dsir_doc_buckets(docs)
    tm = (
        db.where(F.col("lang") == target_lang)
        .groupBy("bucket")
        .agg(F.sum("n").alias("c_t"))
    )
    rm = db.groupBy("bucket").agg(F.sum("n").alias("c_r"))
    tot_t = tm.agg(F.sum("c_t").alias("n_t"))
    tot_r = rm.agg(F.sum("c_r").alias("n_r"))
    scored = (
        db.join(F.broadcast(tm), "bucket", "left")
        .join(F.broadcast(rm), "bucket")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            "doc_id",
            (
                F.col("n")
                * (
                    F.log(
                        (F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast("double")
                        / (F.col("n_t") + _DSIR_B).cast("double")
                    )
                    - F.log(
                        (F.col("c_r") + 1).cast("double")
                        / (F.col("n_r") + _DSIR_B).cast("double")
                    )
                )
            ).alias("contrib"),
        )
    )
    return scored.groupBy("doc_id").agg(F.sum("contrib").alias("dsir_weight"))


@query("curate_dsir_select")  # rows-only: ln() is engine-divergent (1 ulp)
def curate_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection face: top-10% of documents by log importance
    weight (deterministic rank — the argmax-k limit of the paper's
    Gumbel resampling), with the weight attached. The integer-exact
    sibling `curate_dsir_masses` carries the hash gate; the planted-
    skew selection property (target-vocabulary docs outrank background
    docs, selected set enriches the target slice) is pinned in
    tests/test_dsir.py.

    Selection shape at scale: the top-k itself is a distributed
    TakeOrderedAndProject (per-partition heaps, no global sort — the
    topk_orders discipline); the rank column is a window over the
    ALREADY-REDUCED k rows only. At a real 10%-of-corpus k one would
    instead threshold-filter on the k-th weight from a quantile sketch
    (map-only second pass) — documented here, not needed at contract
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    k = max(1, n_docs // 10)
    top = (
        dsir_weights(docs)
        .orderBy(F.col("dsir_weight").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("dsir_weight").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id",
        F.round("dsir_weight", 6).alias("dsir_weight"),
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "curate_dsir_select_contract",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, unnest({{duck_toks}}) AS tok FROM documents
    ), db AS (
      SELECT doc_id, lang, {{duck_bucket}} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM t GROUP BY 1, 2, 3
    ), tm AS (
      SELECT bucket, CAST(SUM(n) AS BIGINT) AS c_t
      FROM db WHERE lang = 'en' GROUP BY bucket
    ), rm AS (
      SELECT bucket, CAST(SUM(n) AS BIGINT) AS c_r FROM db GROUP BY bucket
    ), m AS (
      SELECT db.doc_id,
             CAST(SUM(db.n * COALESCE(tm.c_t, 0)) AS BIGINT) AS tmass,
             CAST(SUM(db.n * rm.c_r) AS BIGINT) AS rmass
      FROM db
      LEFT JOIN tm ON tm.bucket = db.bucket
      JOIN rm ON rm.bucket = db.bucket
      GROUP BY db.doc_id
    ), d AS (
      SELECT doc_id,
             tmass // rmass AS q0, tmass % rmass AS r0,
             ((tmass % rmass) * 1000000) // rmass AS q1,
             ((tmass % rmass) * 1000000) % rmass AS r1
      FROM m
    ), digits AS (
      SELECT doc_id, q0, q1,
             (r1 * 1000000) // rmass AS q2,
             (((r1 * 1000000) % rmass) * 1000000) // rmass AS q3
      FROM d JOIN m USING (doc_id)
    ), ranked AS (
      SELECT doc_id,
             CAST(q0 * 1000000000000000000 + q1 * 1000000000000
                  + q2 * 1000000 + q3 AS BIGINT) AS affinity_e18,
             ROW_NUMBER() OVER (
               ORDER BY q0 DESC, q1 DESC, q2 DESC, q3 DESC, doc_id ASC
             ) AS rank
      FROM digits
    )
    SELECT doc_id, affinity_e18, CAST(rank AS BIGINT) AS rank
    FROM ranked
    WHERE rank <= GREATEST(1, (SELECT COUNT(*) // 10 FROM documents))
    """.format(duck_toks=_DUCK_TOKS, duck_bucket=_DSIR_DUCK_BUCKET),
)
def curate_dsir_select_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable DSIR selection (the contract face `curate_dsir_select`
    lacked): top-10% of documents ranked on a DECIMAL-EXACT key derived
    from the integer-exact masses, so the full selection — ranking, k
    cut, tiebreak — hash-matches across engines with no float anywhere.

    The key is the target-affinity ratio target_mass/raw_mass expanded
    to 18 fractional decimal digits by exact long division (three
    six-digit quotient levels; ratio ≤ 1 always since the target slice
    is a subset of the corpus, so the packed ``affinity_e18`` fits a
    BIGINT).  This ratio is the count-weighted average of each token
    bucket's unsmoothed target share — the linear-space analog of the
    paper's log-likelihood-ratio weight (`curate_dsir_select` keeps the
    ln-faithful face; its ordering property is pinned in
    tests/test_dsir.py).  Ties (same 18 digits) break on doc_id.

    Overflow bound: each level multiplies a remainder (< raw_mass) by
    10^6, so exactness holds while raw_mass ≤ 9.2e12 — comfortable at
    contract scale (raw_mass ≈ 2e7 at sf0.01); a 100 TB corpus shifts
    to six three-digit levels (multiplier 10^3, bound 9.2e15) or a
    DECIMAL(38) ladder, same algebra.

    Scale shape: identical to `curate_dsir_masses` (one tokenize, two
    broadcast marginal joins, one doc-keyed aggregate) plus a
    TakeOrderedAndProject top-k; the rank window runs over the reduced
    k rows only."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    k = max(1, n_docs // 10)
    db = _dsir_doc_buckets(docs)
    tm = (
        db.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.sum("n").alias("c_t"))
    )
    rm = db.groupBy("bucket").agg(F.sum("n").alias("c_r"))
    m = (
        db.join(F.broadcast(tm), "bucket", "left")
        .join(F.broadcast(rm), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("n") * F.coalesce(F.col("c_t"), F.lit(0)))
            .alias("tmass"),
            F.sum(F.col("n") * F.col("c_r")).alias("rmass"),
        )
    )
    digits = m.select(
        "doc_id",
        F.expr("tmass DIV rmass").alias("q0"),
        F.expr("((tmass % rmass) * 1000000) DIV rmass").alias("q1"),
        F.expr(
            "((((tmass % rmass) * 1000000) % rmass) * 1000000) DIV rmass"
        ).alias("q2"),
        F.expr(
            "((((((tmass % rmass) * 1000000) % rmass) * 1000000) % rmass)"
            " * 1000000) DIV rmass"
        ).alias("q3"),
    )
    top = digits.orderBy(
        F.col("q0").desc(),
        F.col("q1").desc(),
        F.col("q2").desc(),
        F.col("q3").desc(),
        F.col("doc_id").asc(),
    ).limit(k)
    w = Window.orderBy(
        F.col("q0").desc(),
        F.col("q1").desc(),
        F.col("q2").desc(),
        F.col("q3").desc(),
        F.col("doc_id").asc(),
    )
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id",
        (
            F.col("q0") * F.lit(1000000000000000000)
            + F.col("q1") * F.lit(1000000000000)
            + F.col("q2") * F.lit(1000000)
            + F.col("q3")
        ).cast("long").alias("affinity_e18"),
        F.col("rank").cast("long").alias("rank"),
    )


# `curate_domain_cap` — per-source document cap (md5-rank
# deterministic): down-samples dominant sources to ≤ cap docs — the
# domain-balancing half of `curate_mix_temperature`, as selection
# rather than quota computation.

_DOMAIN_CAP = 30


@query(
    "curate_domain_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '#cap'), doc_id
             ) AS pick_rank,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
               AS source_total
      FROM documents
    )
    SELECT doc_id, source, CAST(pick_rank AS BIGINT) AS pick_rank,
           source_total, source_total > {_DOMAIN_CAP} AS was_capped
    FROM ranked WHERE pick_rank <= {_DOMAIN_CAP}
    """,
)
def curate_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap at {_DOMAIN_CAP} — see the notes
    above.  The md5 pick order is seedless and
    partitioning-stable (the sampling-family idiom), so the KEPT SET
    is deterministic; the per-source rank is a keyed window
    (WindowGroupLimit prunes at the cap)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#cap"))),
        F.col("doc_id"),
    )
    wtot = Window.partitionBy("source")
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("bigint").alias("pick_rank"),
        F.count(F.lit(1)).over(wtot).cast("bigint").alias("source_total"),
    )
    return ranked.where(F.col("pick_rank") <= _DOMAIN_CAP).select(
        "doc_id",
        "source",
        "pick_rank",
        "source_total",
        (F.col("source_total") > _DOMAIN_CAP).alias("was_capped"),
    )


# `text_ngram_novelty` — the incremental-corpus freshness QA: split
# documents into two md5 crawl epochs (yesterday / today) and measure
# what fraction of today's distinct 8-grams are NEW (absent from
# yesterday) — the number that tells a training-data pipeline whether
# a recrawl is adding content or re-downloading the web it already
# has.  Reuses the decontamination 8-gram machinery
# (text/curation.py): gram frames are doc-distinct TYPE-level sets,
# the anti-join runs gram-keyed, and every output is a distinct count
# — output-bounded at any corpus size.

# --------------------------------------------------------------------------
# text_ngram_novelty
# --------------------------------------------------------------------------


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, text,
             {_duck_hash_mod("doc_id", "#crawl", 2)} AS epoch
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT epoch, unnest({_DUCK_8GRAMS}) AS gram FROM tagged
    ),
    a AS (SELECT gram FROM grams WHERE epoch = 0),
    b AS (SELECT gram FROM grams WHERE epoch = 1),
    new_b AS (SELECT gram FROM b ANTI JOIN a USING (gram))
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM tagged WHERE epoch = 0)
        AS n_docs_a,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM tagged WHERE epoch = 1)
        AS n_docs_b,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_grams_a,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_grams_b,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM new_b) AS n_new_in_b,
      CAST((SELECT COUNT(*) FROM new_b) AS DOUBLE)
        / CAST((SELECT COUNT(*) FROM b) AS DOUBLE) AS novelty_rate
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-over-epoch 8-gram novelty — see the notes above."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id", "text",
        _spark_hash_mod(F.col("doc_id"), "#crawl", 2).alias("epoch"),
    ).localCheckpoint(eager=True)  # consumed by both epoch legs + counts
    grams = (
        tagged.select(
            "epoch", F.explode(F.expr(_SPARK_8GRAMS)).alias("gram")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = grams.where(F.col("epoch") == 0).select("gram")
    b = grams.where(F.col("epoch") == 1).select("gram")
    new_b = b.join(a, "gram", "left_anti")
    docs_cnt = tagged.agg(
        F.sum(F.when(F.col("epoch") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_a"),
        F.sum(F.when(F.col("epoch") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_b"),
    )
    gram_cnt = grams.agg(
        F.sum(F.when(F.col("epoch") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_grams_a"),
        F.sum(F.when(F.col("epoch") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_grams_b"),
    )
    new_cnt = new_b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_in_b")
    )
    return (
        docs_cnt.crossJoin(F.broadcast(gram_cnt))
        .crossJoin(F.broadcast(new_cnt))
        .select(
            "n_docs_a", "n_docs_b", "n_grams_a", "n_grams_b",
            "n_new_in_b",
            (
                F.col("n_new_in_b").cast("double")
                / F.col("n_grams_b").cast("double")
            ).alias("novelty_rate"),
        )
    )
