"""Wave 62: exact-substring dedup — content-defined sampling
properties the hash compare can't show."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_planted_verbatim_run_is_detected_regardless_of_alignment(spark):
    """Two synthetic docs share one 200-char run at DIFFERENT offsets;
    content-defined sampling must select identical grams in both, so
    the pair surfaces — the property a strided (position-defined)
    sample does not have."""
    import hashlib

    run = "".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(7)
    )[:200]
    a = "A" * 37 + run + "B" * 50
    b = "C" * 91 + run + "D" * 11
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "E" * 300)], "doc_id long, text string"
    )
    grams = df.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, int(greatest(length(text) - 39, 1))), "
                "i -> md5(substr(text, i, 40)))"
            )
        ).alias("fp"),
    )
    sel = grams.where(F.substring("fp", 1, 1) == "0").distinct()
    pairs = (
        sel.alias("x").join(sel.alias("y"), "fp")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
        .collect()
    )
    assert {(r.a, r.b) for r in pairs} == {(1, 2)}


def test_face_pairs_share_real_substrings(spark):
    """Every emitted pair must actually share a 40-char substring —
    verified against the raw texts, not the fingerprints."""
    from vector_ai_npm_spark.text.line_dedup import dedup_exact_substring
    from vector_ai_npm_spark.io.sources import load_table

    pairs = dedup_exact_substring(spark, SF).collect()
    assert pairs  # fixture contains verbatim overlaps
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents")
        .select("doc_id", "text").collect()
    }
    for r in pairs[:10]:
        ta, tb = texts[r.doc_id_a], texts[r.doc_id_b]
        grams_a = {ta[i : i + 40] for i in range(max(len(ta) - 39, 1))}
        assert any(tb[i : i + 40] in grams_a
                   for i in range(max(len(tb) - 39, 1)))


def test_join_plan_is_fingerprint_keyed(spark):
    from vector_ai_npm_spark.text.line_dedup import dedup_exact_substring

    plan = (
        dedup_exact_substring(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan
