"""Text analysis suite (SURVEY §2B B19 + north-star text operators).

All five operators are pure JVM expressions (split / regexp /
higher-order folds) — no UDFs, no shuffles except text_stats' group-by.
These are the per-document scoring passes a 100 TB training-data
pipeline runs as map-only stages before filtering/sampling.

Also here: `text_langid_confusion`, `text_readability`,
`text_vocab_overlap`, `text_zipf_ratio`, each with its notes in a
comment above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_ai_npm_spark.functions.numeric import dsum, o_dsum
from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query

_SPARK_TOKS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
_DUCK_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"

# tiny public stopword samples per fixture language (deterministic
# scoring sets — the heuristic's quality is bounded by the fixture's
# synthetic vocabulary, its *semantics* are what the oracle pins)
_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "de", "y", "es", "un"),
    "fr": ("le", "la", "de", "et", "est", "un"),
    "zh": ("de", "shi", "he", "zai", "you", "wo"),
}
_LANG_ORDER = ("de", "en", "es", "fr", "zh")  # deterministic argmax tiebreak


@query(
    "text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents
    ), x AS (
      SELECT doc_id, lang, unnest(toks) AS tok FROM t
    )
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
           CAST(CAST(SUM(length(tok)) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS avg_token_len
    FROM x GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19: tokenize + per-lang corpus statistics (explode → hash agg;
    integer sums are exact so no decimal path needed)."""
    docs = load_table(spark, sf_dir, "documents")
    x = docs.select(
        "doc_id", "lang", F.explode(F.expr(_SPARK_TOKS)).alias("tok")
    )
    return x.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
        (F.sum(F.length("tok")).cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("avg_token_len"),
    )


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_DUCK_TOKS}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_ish_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star token counting: whitespace tokens + a BPE-ish regex
    segmentation (letters / digits / single punctuation marks) — the
    cheap token-budget estimator that runs before real tokenization."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr(_SPARK_TOKS)).cast("long").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
            )
        )
        .cast("long")
        .alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def _score_sql(lang: str, toks: str, quote: str = "'") -> str:
    arr = ", ".join(f"{quote}{w}{quote}" for w in _STOPWORDS[lang])
    return f"len(list_intersect({toks}, [{arr}]))"


def _score_spark(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"size(array_intersect({_SPARK_TOKS}, array({arr})))"


def _argmax_case(scores: dict[str, str]) -> str:
    """CASE picking the first lang (in _LANG_ORDER) with maximal score."""
    greatest = "greatest(" + ", ".join(scores[l] for l in _LANG_ORDER) + ")"
    whens = " ".join(
        f"WHEN {scores[l]} = {greatest} THEN '{l}'" for l in _LANG_ORDER
    )
    return f"CASE {whens} END"


@query(
    "text_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents)
    SELECT doc_id, lang AS labeled_lang,
           {", ".join(f"CAST({_score_sql(l, 'toks')} AS BIGINT) AS score_{l}" for l in _LANG_ORDER)},
           {_argmax_case({l: _score_sql(l, 'toks') for l in _LANG_ORDER})} AS predicted_lang
    FROM t
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star language-ID heuristic: stopword-membership scoring with
    a deterministic argmax. (The fixture corpus is synthetic shared-vocab
    word salad, so predictions are degenerate — the operator contract is
    the scoring semantics, which the oracle pins exactly.)"""
    docs = load_table(spark, sf_dir, "documents")
    scores = {l: _score_spark(l) for l in _LANG_ORDER}
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            F.expr(scores[l]).cast("long").alias(f"score_{l}")
            for l in _LANG_ORDER
        ],
        F.expr(_argmax_case(scores)).alias("predicted_lang"),
    )


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
             / greatest(length(text), 1) AS punct_ratio,
           CAST(len(list_filter({_DUCK_TOKS},
                x -> list_contains(['the','a','of','and','to','in','is'], x)))
                AS DOUBLE) / greatest(len({_DUCK_TOKS}), 1) AS stopword_ratio,
           (CAST(len({_DUCK_TOKS}) AS DOUBLE) / greatest(length(text), 1))
             AS tokens_per_char
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star quality scoring: length / punctuation / stopword-ratio
    signals (the Gopher-style cheap filters). Pure per-row arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(_SPARK_TOKS)
    stop = ", ".join(f"'{w}'" for w in _STOPWORDS["en"])
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        (
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[^A-Za-z0-9 ]"), 0))
            .cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.size(
                F.expr(
                    f"filter({_SPARK_TOKS}, x -> array_contains(array({stop}), x))"
                )
            ).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("stopword_ratio"),
        (F.size(toks).cast("double") / F.greatest(F.length("text"), F.lit(1))).alias(
            "tokens_per_char"
        ),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
               list_transform(string_split_regex(text, ''),
                              c -> CAST(unicode(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star document fingerprinting: order-sensitive polynomial
    rolling hash (base 31, mod 1e9+7) over the character stream — the
    content-defined-chunking primitive. A strict left fold in both
    engines; fixture text is ASCII so ascii()/unicode() agree."""
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        "aggregate(split(text, ''), cast(7 as bigint), "
        "(acc, c) -> (acc * 31 + ascii(c)) % cast(1000000007 as bigint))"
    )
    return docs.select("doc_id", F.expr(fold).alias("fingerprint"))


@query(
    "text_top_terms",
    oracle=f"""
    WITH x AS (
      SELECT lang, unnest({_DUCK_TOKS}) AS tok FROM documents
    ), counts AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM x GROUP BY lang, tok
    )
    SELECT lang, tok, n,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY n DESC, tok ASC) AS BIGINT) AS term_rank
    FROM counts
    QUALIFY term_rank <= 5
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19+: top-5 terms per language — the two-level shape (explode →
    count per (lang, term) → per-lang window top-k) that computes corpus
    vocabularies at scale. Map-side combine collapses the exploded
    tokens before the shuffle; WindowGroupLimit bounds the ranking."""
    docs = load_table(spark, sf_dir, "documents")

    counts = (
        docs.select("lang", F.explode(F.expr(_SPARK_TOKS)).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .where(F.col("term_rank") <= 5)
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents
    ),
    tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok2 GROUP BY doc_id, term),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n  AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19+: the document-term matrix with term/document frequencies —
    TF-IDF minus the one transcendental. The hash-checked contract stays
    in INTEGERS on purpose: ln() is not correctly rounded and differs
    between JVM and C++ by 1 ulp (measured: ln(3)), so the scored face
    lives in `text_tfidf_scored` (rows-only + invariant tests).

    Plan: tokenize+explode (Generate) ONCE, one shuffle for tf
    (doc,term), then df as a count over a term-partitioned WINDOW on tf
    — deriving df by re-aggregating tf would duplicate the whole
    tokenize subtree in the plan (Spark reuses exchanges, not derived
    aggregates), i.e. tokenize 100 TB twice. The corpus count joins as
    a broadcast literal from a Generate-free count-only scan."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf is distinct per (doc, term), so a row count per term IS the
    # document frequency — one shuffle on term, zero re-scans
    df = F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.withColumn("df", df)
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", "df", "n_docs")
    )


@query("text_tfidf_scored")  # rows-only: ln() is engine-divergent (1 ulp)
def text_tfidf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19+ scored face: smoothed idf = ln((1+N)/(1+df)) + 1, score =
    tf·idf, top-5 terms per doc (deterministic tiebreak on term).
    tests/test_tfidf.py re-derives the scores in Python and checks the
    per-doc ranking exactly."""
    base = text_tfidf(spark, sf_dir)
    scored = base.withColumn(
        "idf",
        F.log((1 + F.col("n_docs")) / (1 + F.col("df"))) + F.lit(1.0),
    ).withColumn("score", F.col("tf") * F.col("idf"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .where(F.col("term_rank") <= 5)
        .select("doc_id", "term", "tf", "df", "score", "term_rank")
    )


def _curate_oracle() -> str:
    """Compose the curation pipeline from the SAME oracle SQL its stages
    are individually checked against (lockstep by construction)."""
    import vector_ai_npm_spark.dedup.queries  # noqa: F401 — registers dedup_components

    from vector_ai_npm_spark.registry import _ORACLES

    return f"""
    WITH q AS ({_ORACLES['text_quality']}),
    lid AS ({_ORACLES['text_langid']}),
    comp AS ({_ORACLES['dedup_components']})
    SELECT q.doc_id, comp.component_id, q.n_chars, q.n_tokens,
           lid.labeled_lang AS lang
    FROM q
    JOIN lid  ON q.doc_id = lid.doc_id
    JOIN comp ON q.doc_id = comp.doc_id
    WHERE q.n_tokens >= 40 AND lid.labeled_lang = 'en' AND comp.is_canonical
    """


@query("corpus_curate", oracle=_curate_oracle())
def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star FLAGSHIP COMPOSITE: the training-corpus curation
    pipeline in one plan — quality stats (≥40 tokens) ∧ language filter
    (en) ∧ near-dup clustering keep-one-per-cluster (banded LSH →
    transitive components → canonical docs only).

    Each stage is individually oracle-checked (`text_quality`,
    `text_langid`, `dedup_components`); this query checks their
    COMPOSITION end-to-end — the same CTE-reuse in both engines, so the
    curated output hash-matches by construction rather than by luck.
    Plan: per-row quality/langid fuse into one scan pass; the dedup
    branch is the iterative component labeling; the final joins are
    doc_id-keyed. At 100 TB the quality+lang filters run FIRST in
    wall-clock and drop most of the corpus before the (more expensive)
    dedup branch output joins in."""
    from vector_ai_npm_spark import registry as _reg

    q = _reg.run("text_quality", spark, sf_dir).where(F.col("n_tokens") >= 40)
    lid = (
        _reg.run("text_langid", spark, sf_dir)
        .where(F.col("labeled_lang") == "en")
        .select("doc_id", F.col("labeled_lang").alias("lang"))
    )
    comp = (
        _reg.run("dedup_components", spark, sf_dir)
        .where(F.col("is_canonical"))
        .select("doc_id", "component_id")
    )
    return (
        q.join(lid, "doc_id")
        .join(comp, "doc_id")
        .select("doc_id", "component_id", "n_chars", "n_tokens", "lang")
    )


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH x AS (
      SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
    ), tot AS (SELECT COUNT(*) AS n_total FROM x)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS found_ok
    FROM x, tot GROUP BY tok, n_total
    HAVING COUNT(*) > 0.01 * n_total
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19+ scale path: heavy-hitter terms via ``DataFrame.stat.freqItems``
    (the Karp/Papadimitriou/Shenker streaming counter) beside the exact
    count — the "top domains / top boilerplate tokens" op of a corpus
    pipeline at 100 TB, where the sketch pass is one scan with
    constant-size per-partition state and NO shuffle of the token stream.

    Contract shape: the rows are the EXACT heavy hitters (count >
    support·N, hash-matchable in DuckDB); ``found_ok`` pins the sketch's
    superset guarantee — every true heavy hitter must appear in the
    freqItems result. The superset's false positives are filtered by the
    exact side (the standard two-pass heavy-hitter recipe: sketch to
    shortlist, one exact count pass over the shortlist).

    The freqItems result is a single bounded row (≤ 1/support items) —
    driver-collected like the IVF centroid probe, not a data collect."""
    support = 0.01
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(_SPARK_TOKS)).alias("tok"))
    shortlist = set(toks.stat.freqItems(["tok"], support=support).first()[0])
    n_total = toks.count()
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return counts.where(
        F.col("n") > F.lit(support) * F.lit(float(n_total))
    ).select(
        "tok",
        "n",
        F.col("tok").isin(*shortlist).alias("found_ok"),
    )


@query("tokenizer_bpe_merges")  # rows-only: the merge loop is iterative
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19+: the first 8 BPE tokenizer merges learned from the corpus
    (text.bpe — word-dict formulation: ONE corpus pass, then k
    vocab-scale rounds). Round-1 is independently cross-engine-checked
    by `bpe_round1_argmax`; the full greedy loop is pinned against a
    pure-Python reference trainer in tests/test_bpe.py."""
    from vector_ai_npm_spark.text.bpe import train_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return train_bpe_merges(docs, n_merges=8)


@query(
    "bpe_round1_argmax",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      FROM documents
    ), v AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM w WHERE w <> '' GROUP BY w
    ), p AS (
      SELECT substring(w, CAST(i AS INTEGER), 1) AS pair_left,
             substring(w, CAST(i AS INTEGER) + 1, 1) AS pair_right,
             freq
      FROM v, UNNEST(range(1, length(w))) AS t(i)
    )
    SELECT CAST(1 AS BIGINT) AS merge_round, pair_left, pair_right,
           CAST(SUM(freq) AS BIGINT) AS pair_freq
    FROM p GROUP BY pair_left, pair_right
    ORDER BY pair_freq DESC, pair_left ASC, pair_right ASC
    LIMIT 1
    """,
)
def bpe_round1_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's first merge decision as a VALUE-level
    cross-engine check (not pinned constants): round 1 is pure SQL —
    adjacent character-pair frequencies weighted by word count, argmax
    with the (freq desc, pair asc) tiebreak — so DuckDB recomputes the
    exact pair the trainer must pick. A tokenization, weighting, or
    tiebreak regression changes the emitted pair → hash mismatch.
    (Rounds 2+ depend on applied merges — iterative, covered by the
    reference-trainer equality test in tests/test_bpe.py.)"""
    from vector_ai_npm_spark.text.bpe import train_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return train_bpe_merges(docs, n_merges=1).select(
        "merge_round", "pair_left", "pair_right", "pair_freq"
    )


@query("tokenizer_bpe_encode")  # rows-only: encode applies the iterative merges
def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19+: APPLY the trained tokenizer — per-document token counts
    under the first 8 learned merges. The encode pass runs over the
    distinct-word DICTIONARY (text.bpe.bpe_encode_dictionary), so the
    corpus text never enters Python: documents explode to words, join
    the encoded dictionary on the word, and aggregate token counts per
    doc. Pinned against a pure-Python encoder in tests/test_bpe.py;
    the SQL-checkable segmentation contract is `bpe_encode_contract`."""
    from vector_ai_npm_spark.text.bpe import (
        bpe_encode_dictionary,
        train_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=8)
    dic = bpe_encode_dictionary(docs, merges).select(
        "w", F.size("toks").alias("n_toks")
    )
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"),
    ).where(F.col("w") != "")
    return (
        words.join(dic, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_toks").alias("n_tokens"),
        )
    )


@query(
    "bpe_encode_contract",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      FROM documents
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(w)) AS BIGINT) AS n_chars,
           TRUE AS reconstruct_ok
    FROM w WHERE w <> '' GROUP BY doc_id
    """,
)
def bpe_encode_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode's SQL-checkable contract: BPE is a SEGMENTATION — for
    every word, the encoded tokens concatenate back to the word, so
    per document (a) the word count survives the dictionary join
    (no OOV loss: the dictionary was built from the same corpus) and
    (b) summed token characters equal summed word characters. The
    oracle recomputes words/chars from raw text in SQL and pins
    reconstruct_ok TRUE; a dropped word, a broken merge, or a
    char-eating encode bug flips a column and fails the hash."""
    from vector_ai_npm_spark.text.bpe import (
        bpe_encode_dictionary,
        train_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=8)
    dic = bpe_encode_dictionary(docs, merges).select(
        "w",
        F.concat_ws("", F.col("toks")).alias("joined"),
        F.aggregate(
            F.transform(F.col("toks"), lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("tok_chars"),
    )
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"),
    ).where(F.col("w") != "")
    return (
        words.join(dic, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("tok_chars").cast("long").alias("n_chars"),
            F.expr("bool_and(joined = w)").alias("reconstruct_ok"),
        )
    )


@query(
    "drift_token_chisq",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({{duck_toks}}) AS tok FROM documents
      WHERE lang IN ('en', 'de')
    ),
    c AS (
      SELECT tok,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
               AS na,
             CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS DOUBLE)
               AS nb
      FROM toks GROUP BY tok
    ),
    t AS (
      SELECT CAST(CAST(CAST(SUM(CAST(na AS DECIMAL(30,8)))
               AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS ta,
             CAST(CAST(CAST(SUM(CAST(nb AS DECIMAL(30,8)))
               AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS tb
      FROM c
    ),
    p AS (
      SELECT c.tok, c.na / t.ta AS pa, c.nb / t.tb AS pb FROM c, t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           {{o_term}} AS chi_square
    FROM p
    """.format(
        duck_toks="list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')",
        o_term=(
            "CAST(CAST(CAST(SUM(CAST((pa - pb) * (pa - pb) / (pa + pb) "
            "AS DECIMAL(30,8))) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE)"
        ),
    ),
)
def drift_token_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift metric: chi-square distance between the unigram
    distributions of two corpus slices (en vs de here; in production,
    yesterday's crawl vs today's) — the monitoring signal that catches
    a feed going templated/spammy before it pollutes training data.

    Chi-square, not KL/JS: the divergence family needs ln(), whose
    low bits differ between engine libms (the text_tfidf_scored
    lesson), while Σ (pa−pb)²/(pa+pb) is plain arithmetic — per-token
    terms are deterministic doubles and the one order-sensitive
    reduction folds through exact decimal. Tokens absent from one side
    contribute p=0 terms exactly.

    Plan: one tokenize Generate over both slices, one token-keyed
    conditional-count aggregate, a broadcast 1-row total, and a second
    exact-decimal fold over the O(vocab) term frame. At 100 TB the
    vocab frame is the only state — millions of rows, not corpus
    rows."""
    toks_expr = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isin("en", "de")
    )
    toks = docs.select(
        "lang", F.explode(F.expr(toks_expr)).alias("tok")
    )
    c = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0))
        .cast("double")
        .alias("nb"),
    )
    t = F.broadcast(c.agg(dsum("na", "ta"), dsum("nb", "tb")))
    p = c.crossJoin(t).select(
        "tok",
        (F.col("na") / F.col("ta")).alias("pa"),
        (F.col("nb") / F.col("tb")).alias("pb"),
    )
    term = (F.col("pa") - F.col("pb")) * (F.col("pa") - F.col("pb")) / (
        F.col("pa") + F.col("pb")
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        dsum(term, "chi_square"),
    )


# --------------------------------------------------------------------------
# North-star: bigram-LM fluency scoring (CCNet-style quality filter)
# --------------------------------------------------------------------------


@query(
    "lm_bigram_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    bg AS (SELECT doc_id, toks[r.i] AS w1, toks[r.i + 1] AS w2
           FROM t CROSS JOIN UNNEST(range(1, len(toks))) AS r(i)),
    dbt AS (SELECT doc_id, w1, w2, COUNT(*) AS m FROM bg GROUP BY ALL),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY ALL),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY ALL),
    v AS (SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT unnest(toks) AS tok FROM t)),
    sc AS (SELECT dbt.doc_id, dbt.m,
                  CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE)
                    AS p
           FROM dbt JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
           CROSS JOIN v),
    pd AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
                  {o_dsum('CAST(m AS DOUBLE) * p')}
                    / CAST(SUM(m) AS DOUBLE) AS avg_bigram_p
           FROM sc GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(pd.n_bigrams, 0) AS n_bigrams,
           pd.avg_bigram_p
    FROM documents d LEFT JOIN pd USING (doc_id)
    """,
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star LM-fluency filter: add-one-smoothed corpus bigram model,
    each doc scored by its mean transition probability
    p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) — the CCNet-style statistical
    quality gate (Wenzek et al. 2020 score with an n-gram LM; the mean
    probability face avoids ln(), which is engine-divergent by 1 ulp —
    same decision as text_tfidf vs text_tfidf_scored).

    Shuffle budget: bigrams aggregate to per-doc TYPE counts before any
    join (the per-position frame never shuffles); two count shuffles
    keyed on (w1,w2)/(w1) — vocabulary-sized, sublinear in corpus — a
    broadcast scalar V, and one final doc-keyed aggregate. Exact-decimal
    mean keeps the driver hash stable across partition orders.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), "
                "slice(toks, 2, greatest(size(toks) - 1, 0)), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bgm"),
    ).select("doc_id", "bgm.w1", "bgm.w2")
    dbt = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("m"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = F.broadcast(
        t.select(F.explode("toks").alias("tok")).agg(
            F.countDistinct("tok").alias("v")
        )
    )
    sc = (
        dbt.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(v)
        .select(
            "doc_id",
            "m",
            (
                (F.col("c12") + 1).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("p"),
        )
    )
    pd = sc.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        (
            dsum(F.col("m").cast("double") * F.col("p"))
            / F.sum("m").cast("double")
        ).alias("avg_bigram_p"),
    )
    return (
        docs.select("doc_id")
        .join(pd, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_bigram_p",
        )
    )


@query(
    "tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang, length(text) AS n_chars, len({_DUCK_TOKS}) AS ws,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE) AS fertility,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE)
             AS chars_per_token
    FROM t GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star tokenizer eval: per-language fertility (subword
    tokens per whitespace word) and chars-per-token — the standard
    multilingual-tokenizer efficiency report (fertility per language
    decides vocab allocation before a big pretraining run). Uses the
    same BPE-ish segmentation as text_token_count so the two faces
    reconcile. Map-only scoring + one 5-row lang aggregate; integer
    sums are exact so no decimal path is needed."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        F.size(F.expr(_SPARK_TOKS)).alias("ws"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
            )
        ).alias("bpe"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("n_ws_tokens"),
        F.sum("bpe").alias("n_bpe_tokens"),
        F.sum("n_chars").alias("n_chars"),
        (F.sum("bpe").cast("double") / F.sum("ws").cast("double"))
        .alias("fertility"),
        (F.sum("n_chars").cast("double") / F.sum("bpe").cast("double"))
        .alias("chars_per_token"),
    )


# `text_langid_confusion` — declared-vs-predicted language confusion
# matrix over the deterministic stopword lang-ID: the QA readout that
# decides whether the lang-ID gate is trustworthy per slice.

@query(
    "text_langid_confusion",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents),
    pred AS (
      SELECT lang AS labeled_lang,
             {_argmax_case({l: _score_sql(l, 'toks') for l in _LANG_ORDER})}
               AS predicted_lang
      FROM t
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM pred)
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           labeled_lang = predicted_lang AS is_correct,
           CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(t2.n_docs) AS DOUBLE)
             AS share
    FROM pred CROSS JOIN tot t2
    GROUP BY labeled_lang, predicted_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-predicted language confusion matrix — see the notes
    above.  Corpus reduces to the ≤|langs|² matrix in one
    aggregate; the total attaches as a broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    scores = {l: _score_spark(l) for l in _LANG_ORDER}
    pred = docs.select(
        F.col("lang").alias("labeled_lang"),
        F.expr(_argmax_case(scores)).alias("predicted_lang"),
    )
    tot = pred.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "labeled_lang",
            "predicted_lang",
            "n",
            (F.col("labeled_lang") == F.col("predicted_lang")).alias(
                "is_correct"
            ),
            (F.col("n").cast("double") / F.col("n_docs").cast("double"))
            .alias("share"),
        )
    )


# `text_readability` — Flesch reading-ease per source from three
# integer counts (alpha-word runs, vowel-group syllable approximation,
# sentence-ender runs): 206.835 − 1.015·(W/S) − 84.6·(Y/W) — every
# term rational from corpus-level integer sums, no transcendentals.
# The quality gate crawl pipelines put next to Gopher filters.

# readability counts: alpha-word runs, vowel-group syllable
# approximation (the classic [aeiouy]+ heuristic), sentence-ender runs
# clamped to ≥1 — all regexp-run COUNTS, deterministic in both engines
_WORD_RE = "[a-z]+"
_SYL_RE = "[aeiouy]+"
_SENT_RE = "[.!?]+"


@query(
    "text_readability",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             CAST(len(regexp_extract_all(lower(text), '{_WORD_RE}'))
                  AS BIGINT) AS w,
             CAST(len(regexp_extract_all(lower(text), '{_SYL_RE}'))
                  AS BIGINT) AS y,
             CAST(GREATEST(len(regexp_extract_all(text, '{_SENT_RE}')), 1)
                  AS BIGINT) AS s
      FROM documents
    ),
    per_source AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(w) AS BIGINT) AS words,
             CAST(SUM(y) AS BIGINT) AS syllables,
             CAST(SUM(s) AS BIGINT) AS sentences
      FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, words, syllables, sentences,
           206.835 - 1.015 * (CAST(words AS DOUBLE)
                              / CAST(sentences AS DOUBLE))
                   - 84.6 * (CAST(syllables AS DOUBLE)
                             / CAST(words AS DOUBLE)) AS flesch,
           CASE
             WHEN 206.835 - 1.015 * (CAST(words AS DOUBLE)
                                     / CAST(sentences AS DOUBLE))
                          - 84.6 * (CAST(syllables AS DOUBLE)
                                    / CAST(words AS DOUBLE)) >= 70 THEN 'easy'
             WHEN 206.835 - 1.015 * (CAST(words AS DOUBLE)
                                     / CAST(sentences AS DOUBLE))
                          - 84.6 * (CAST(syllables AS DOUBLE)
                                    / CAST(words AS DOUBLE)) >= 50
               THEN 'standard'
             WHEN 206.835 - 1.015 * (CAST(words AS DOUBLE)
                                     / CAST(sentences AS DOUBLE))
                          - 84.6 * (CAST(syllables AS DOUBLE)
                                    / CAST(words AS DOUBLE)) >= 30
               THEN 'difficult'
             ELSE 'very_difficult'
           END AS band
    FROM per_source
    WHERE words > 0
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading ease — see the notes above.  One
    documents scan to per-doc integer counts (map-side), one
    source-keyed aggregate; the flesch double is the identical
    expression in both engines over the same integer sums, and the
    band CASE compares that double to integer literals (deterministic
    because the double itself is bit-equal)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)"))
        .cast("bigint")
        .alias("w"),
        F.size(F.expr(f"regexp_extract_all(lower(text), '{_SYL_RE}', 0)"))
        .cast("bigint")
        .alias("y"),
        F.greatest(
            F.size(F.expr(f"regexp_extract_all(text, '{_SENT_RE}', 0)")),
            F.lit(1),
        )
        .cast("bigint")
        .alias("s"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("words"),
        F.sum("y").cast("bigint").alias("syllables"),
        F.sum("s").cast("bigint").alias("sentences"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("words").cast("double") / F.col("sentences").cast("double"))
        - F.lit(84.6)
        * (F.col("syllables").cast("double") / F.col("words").cast("double"))
    )
    band = (
        F.when(flesch >= 70, "easy")
        .when(flesch >= 50, "standard")
        .when(flesch >= 30, "difficult")
        .otherwise("very_difficult")
    )
    return per_source.where(F.col("words") > 0).select(
        "source", "n_docs", "words", "syllables", "sentences",
        flesch.alias("flesch"), band.alias("band"),
    )


# `text_vocab_overlap` — pairwise vocabulary Jaccard between sources
# (the lexical-diversity complement of `events_audience_overlap`:
# which crawl sources speak the same words — near-1 overlap between
# two sources flags a mirror, near-0 flags a domain outlier):
# word-TYPE-keyed self-join (corpus text tokenized ONCE, pairs
# generated per word type with ≤C(|sources|,2) fan-out), exact
# |A∩B|/|A∪B| fractions.

@query(
    "text_vocab_overlap",
    oracle=f"""
    WITH sw AS (
      SELECT DISTINCT source, tok
      FROM (SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents)
    ), ns AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab
      FROM sw GROUP BY source
    ), common AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS common_words
      FROM sw a JOIN sw b
        ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT c.source_a, c.source_b, na.vocab AS vocab_a,
           nb.vocab AS vocab_b, c.common_words,
           c.common_words AS jac_num,
           na.vocab + nb.vocab - c.common_words AS jac_den,
           CAST(c.common_words AS DOUBLE)
             / CAST(na.vocab + nb.vocab - c.common_words AS DOUBLE)
             AS jaccard
    FROM common c
    JOIN ns na ON na.source = c.source_a
    JOIN ns nb ON nb.source = c.source_b
    """,
)
def text_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard — see the notes above.  One
    tokenize → DISTINCT (source, word) collapse is the only corpus
    pass; the self-join is word-TYPE-keyed with a source inequality
    post-filter (fan-out ≤ C(|sources|, 2) per word type) and totals
    broadcast onto the ≤|sources|² matrix."""
    docs = load_table(spark, sf_dir, "documents")
    sw = docs.select(
        "source", F.explode(F.expr(_SPARK_TOKS)).alias("tok")
    ).distinct()
    ns = sw.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab")
    )
    a = sw.alias("a")
    b = sw.alias("b")
    common = (
        a.join(b, "tok")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_words"))
    )
    na = ns.select(
        F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
    )
    nb = ns.select(
        F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b")
    )
    den = F.col("vocab_a") + F.col("vocab_b") - F.col("common_words")
    return (
        common.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a", "source_b", "vocab_a", "vocab_b", "common_words",
            F.col("common_words").alias("jac_num"),
            den.alias("jac_den"),
            (
                F.col("common_words").cast("double") / den.cast("double")
            ).alias("jaccard"),
        )
    )


# `text_zipf_ratio` — the rank-frequency profile: frequency at ranks
# 1, 2, 4, …, 512 (deterministic freq-desc/term-asc ranking) and the
# exact f₁/f_k ratio.  Zipf's law predicts ratio ≈ k; the readout is
# the standard corpus-health check (a crawl whose curve flattens is
# template-heavy).  Rank window runs on the type-level term frame
# (vocabulary-bounded), never on token rows.

# --------------------------------------------------------------------------
# text_zipf_ratio
# --------------------------------------------------------------------------

_ZIPF_RANKS = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512)


@query(
    "text_zipf_ratio",
    oracle=f"""
    WITH t AS (
      SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
    ), freqs AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM t GROUP BY tok
    ), ranked AS (
      SELECT tok, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rk
      FROM freqs
    ), top AS (
      SELECT freq AS f1 FROM ranked WHERE rk = 1
    )
    SELECT CAST(r.rk AS BIGINT) AS rank_k, r.tok AS term, r.freq,
           CAST(t.f1 AS DOUBLE) / CAST(r.freq AS DOUBLE) AS ratio_to_top
    FROM ranked r, top t
    WHERE r.rk IN {_ZIPF_RANKS}
    """,
)
def text_zipf_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency (Zipf) profile — see the notes above.  Token
    rows reduce to the vocabulary frame in the first aggregate; the
    rank window is vocabulary-bounded.  At 100 TB the window would be
    replaced by the two-level-prefix rank (functions.prefix) — here
    the vocabulary is small enough that the single window is the
    honest plan."""
    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        docs.select(F.explode(F.expr(_SPARK_TOKS)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    ranked = freqs.select(
        "tok", "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), F.col("tok")))
        .alias("rk"),
    )
    # f1 via a window over the ALREADY-FILTERED ≤10-row frame (rank 1
    # is in the rank set) — a separate rank=1 subquery would re-derive
    # the whole tokenize pipeline and scan the corpus twice (the plan
    # gate pins exactly one Generate)
    picked = ranked.where(F.col("rk").isin(*_ZIPF_RANKS))
    w_all = Window.partitionBy()
    return picked.select(
        F.col("rk").cast("bigint").alias("rank_k"),
        F.col("tok").alias("term"),
        "freq",
        (
            F.max(F.when(F.col("rk") == 1, F.col("freq")))
            .over(w_all)
            .cast("double")
            / F.col("freq").cast("double")
        ).alias("ratio_to_top"),
    )
