"""Wave 64: polymorphic UDTF analyze()/eval() contract."""

from __future__ import annotations

import pytest

from vector_ai_npm_spark.io.queries import make_char_chunks_udtf


def test_schema_follows_the_arity_argument(spark):
    spark.udtf.register("cc_t", make_char_chunks_udtf())
    for n in (1, 3, 7):
        df = spark.sql(f"SELECT * FROM cc_t('abcdefghijkl', {n})")
        assert df.columns == [f"chunk_{i}" for i in range(n)]
        parts = df.first()
        assert "".join(parts) == "abcdefghijkl"


def test_remainder_rides_the_last_chunk(spark):
    spark.udtf.register("cc_t2", make_char_chunks_udtf())
    row = spark.sql("SELECT * FROM cc_t2('abcdefghij', 3)").first()
    assert (row.chunk_0, row.chunk_1, row.chunk_2) == ("abc", "def", "ghij")


def test_non_literal_or_bad_arity_fails_at_analysis(spark):
    spark.udtf.register("cc_t3", make_char_chunks_udtf())
    with pytest.raises(Exception, match="n >= 1|literal"):
        spark.sql("SELECT * FROM cc_t3('abc', 0)").collect()


def test_lateral_join_reassembles_corpus(spark, sf_smoke):
    from pyspark.sql import functions as F

    from vector_ai_npm_spark.io.queries import udtf_dynamic_schema

    out = udtf_dynamic_schema(spark, sf_smoke)
    from vector_ai_npm_spark.io.sources import load_table

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", F.length("text").alias("L")
    )
    bad = out.join(docs, "doc_id").where(
        (F.col("total_len") != F.col("L"))
        | (F.col("len_0") + F.col("len_1") + F.col("len_2") + F.col("len_3")
           != F.col("L"))
    )
    assert bad.count() == 0
    # three planted short-string rows (doc_ids -1..-3) ride along to keep
    # the short-text path inside the oracle hash (r10 verdict item 7)
    assert out.where(F.col("doc_id") >= 0).count() == docs.count()
    shorts = {r.doc_id: r for r in out.where(F.col("doc_id") < 0).collect()}
    assert set(shorts) == {-1, -2, -3}
    # 'ab' with n=4, step=1 → chunks of length 1,1,0,0; '' → all empty;
    # 'abc' → 1,1,1,0
    assert (shorts[-1].len_0, shorts[-1].len_1, shorts[-1].len_2,
            shorts[-1].len_3, shorts[-1].total_len) == (1, 1, 0, 0, 2)
    assert (shorts[-2].len_0, shorts[-2].len_1, shorts[-2].len_2,
            shorts[-2].len_3, shorts[-2].total_len) == (0, 0, 0, 0, 0)
    assert (shorts[-3].len_0, shorts[-3].len_1, shorts[-3].len_2,
            shorts[-3].len_3, shorts[-3].total_len) == (1, 1, 1, 0, 3)
