"""B29 — the UDF surface: scalar UDF, Arrow pandas_udf, grouped-map
applyInPandas (UDAF-shaped), and UDTF-via-explode.

These exist to pin the engine's extension points, not to do work
built-ins could do (the hot paths elsewhere are deliberately UDF-free).
Rows-only in the oracle contract — the semantics are defined by the
Python bodies — with SQL-checkable invariants in tests/test_udf.py.

Scale ranking (why each shape exists):
  * row-at-a-time `udf`: convenience only; pickled per row, ~10-100×
    slower than Arrow — never in a hot path.
  * `pandas_udf`: Arrow batches, numpy/C inner loop — the default for
    unavoidable Python (A3 subsplit, A5 embed).
  * `applyInPandas`: grouped map — per-key Python with the whole group
    in memory; shuffle on the key, group must fit an executor.
  * UDTF (explode of array-returning UDF): row expansion with the array
    built Python-side, exploded JVM-side.

Also here: `udf_grouped_agg`, with its notes in a comment above it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from vector_ai_npm_spark.io.sources import load_table, scale_partitions
from vector_ai_npm_spark.registry import query


def _scalar_udf():
    @F.udf(StringType())
    def first_token_upper(text: str | None) -> str | None:
        if not text:
            return None
        return text.split(" ", 1)[0].upper()

    return first_token_upper


def _vectorized_udf():
    @F.pandas_udf(LongType())
    def vowel_count(texts: pd.Series) -> pd.Series:
        return texts.str.count("[aeiou]").fillna(0).astype("int64")

    return vowel_count


_ZSCORE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("n_chars", LongType()),
        StructField("chars_z", DoubleType()),
    ]
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    mu = pdf["n_chars"].mean()
    sd = pdf["n_chars"].std(ddof=0) or 1.0
    out = pdf[["doc_id", "lang", "n_chars"]].copy()
    out["chars_z"] = (pdf["n_chars"] - mu) / sd
    return out


def _udtf_array():
    @F.udf(ArrayType(StringType()))
    def char_ngrams(text: str | None) -> list[str]:
        if not text:
            return []
        head = text[:12]
        return [head[i: i + 3] for i in range(len(head) - 2)]

    return char_ngrams


@query("udf_surface")  # rows-only: semantics defined by the Python bodies
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29: all four UDF shapes over `documents`, joined on doc_id.

    Output: one row per doc with a column from each extension point —
    scalar-UDF token, pandas_udf vowel count, applyInPandas per-lang
    z-score, and the exploded-UDTF n-gram count (re-aggregated so the
    query stays one-row-per-doc).
    """
    docs = scale_partitions(load_table(spark, sf_dir, "documents"), spark)
    base = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        _scalar_udf()(F.col("text")).alias("first_token"),
        _vectorized_udf()(F.col("text")).alias("n_vowels"),
        _udtf_array()(F.col("text")).alias("ngrams"),
    )
    ngram_counts = (
        base.select("doc_id", F.explode("ngrams").alias("ng"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_ngrams"))
    )
    z = docs.select("doc_id", "lang", "n_chars").groupBy("lang").applyInPandas(
        _zscore_group, schema=_ZSCORE_SCHEMA
    )
    return (
        base.drop("ngrams")
        .join(ngram_counts, "doc_id", "left")
        .join(z.select("doc_id", "chars_z"), "doc_id", "left")
        .select(
            "doc_id", "lang", "first_token", "n_vowels",
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            "chars_z",
        )
    )


@query(
    "udtf_sentences",
    oracle="""
    SELECT doc_id,
           CAST(i AS BIGINT) AS sent_pos,
           parts[CAST(i AS INTEGER)] AS sentence
    FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
         UNNEST(range(1, len(parts) + 1)) AS t(i)
    """,
)
def udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29+: a REAL Python UDTF (Spark 4 `@udtf`) in a LATERAL join —
    one input row expands to one row per sentence, with the expansion
    logic in the UDTF's `eval` generator. Complements the
    UDTF-via-explode face in `udf_surface` with the first-class API.

    Deliberately simple split semantics ('. ' separator, Python
    `str.split`) so the DuckDB oracle reproduces the rows exactly —
    this query pins the UDTF execution path (registration, lateral
    correlation, generator protocol), not clever NLP.

    Scale note: Python UDTFs are row-at-a-time like scalar UDFs — the
    JVM-native equivalent (`split` + `posexplode`, see
    chunk_split_headers) is the production path for a split this
    regular; the UDTF earns its cost only when the expansion logic
    needs real Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_pos: bigint, sentence: string")
    class SentenceSplit:
        def eval(self, text: str):
            for i, s in enumerate((text or "").split(". "), start=1):
                yield i, s

    spark.udtf.register("udtf_sentences_split", SentenceSplit)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("udtf_sentences_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_pos, s.sentence
        FROM udtf_sentences_docs d,
             LATERAL udtf_sentences_split(d.text) s
        """
    )


@query(
    "udf_mapinarrow",
    oracle="""
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def udf_mapinarrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29+: the Arrow-NATIVE UDF face — `mapInArrow` hands each
    partition to Python as raw pyarrow RecordBatches with NO pandas
    materialization at all, the fastest Python extension point Spark
    has (the step past pandas_udf when even Series overhead matters,
    e.g. fixed-point math over billions of rows).

    The batch transform runs entirely in pyarrow.compute kernels
    (C++): revenue_cents = floor(price · (1 − discount) · 100) as
    int64 — floor instead of round so no tie-break semantics enter the
    cross-engine contract, and the double multiply chain is pinned in
    the same association order the oracle uses (IEEE-deterministic in
    both engines). The per-order aggregate then happens JVM-side, so
    this query hash-checks the Arrow path end-to-end against DuckDB —
    unlike the other UDF faces, which are rows-only by semantics.

    Scale shape: map stage fuses with the scan (no shuffle added);
    one keyed aggregate after. Python cost is one C++ kernel chain per
    Arrow batch."""
    from collections.abc import Iterator

    import pyarrow as pa

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )

    def cents(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for b in batches:
            price = b.column(b.schema.get_field_index("l_extendedprice"))
            disc = b.column(b.schema.get_field_index("l_discount"))
            rev = pc.multiply(
                pc.multiply(price, pc.subtract(pa.scalar(1.0), disc)),
                pa.scalar(100.0),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("l_orderkey")),
                    pc.cast(pc.floor(rev), pa.int64()),
                ],
                names=["l_orderkey", "cents"],
            )

    mapped = li.mapInArrow(cents, schema="l_orderkey long, cents long")
    return mapped.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("cents").alias("revenue_cents"),
    )


# `udf_grouped_agg` — the GROUPED_AGG pandas UDF face completing the
# B29 UDF matrix (scalar / SCALAR pandas / applyInPandas grouped map /
# UDTF / mapInArrow were covered; the Series→scalar aggregating
# variant was not): a per-label custom aggregate (int64 dot of cents
# against alternating ±1 signs — deterministic integer math, so the
# face is hash-checkable, unlike a float mean whose pandas fold order
# would be engine-specific).  Plan shape: Arrow-batched partial
# aggregation (`AggregateInPandas`), shuffle carries per-group
# partials only.

@query(
    "udf_grouped_agg",
    oracle="""
    WITH cents AS (
      SELECT label,
             CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id)
               AS rn
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN rn % 2 = 1 THEN c ELSE -c END) AS BIGINT)
             AS signed_sum_micro
    FROM cents GROUP BY label
    """,
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — see the notes above.  The custom
    aggregate (alternating-sign int64 sum over the vec_id order) is
    integer-exact and order-DEFINED, so the Python aggregation is
    hash-checkable against a pure-SQL oracle; sorting happens inside
    each Arrow batch group (per-label frames)."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("long")
    def signed_sum(c: pd.Series, rn: pd.Series) -> int:
        import numpy as np

        cv = c.to_numpy(dtype="int64")
        sign = np.where(rn.to_numpy(dtype="int64") % 2 == 1, 1, -1)
        return int((cv * sign).sum())

    emb = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    cents = emb.select(
        "label",
        F.floor(
            F.element_at("embedding", 1).cast("double") * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("c"),
        F.row_number()
        .over(Window.partitionBy("label").orderBy("vec_id"))
        .alias("rn"),
    )
    # Spark disallows mixing a GROUPED_AGG pandas UDF with non-pandas
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT) — join the
    # plain count from its own label-keyed aggregate instead
    sums = cents.groupBy("label").agg(
        signed_sum("c", "rn").alias("signed_sum_micro")
    )
    counts = cents.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return counts.join(sums, "label").select(
        "label", "n", "signed_sum_micro"
    )
