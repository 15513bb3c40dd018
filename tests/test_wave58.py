"""Wave 58: spatial grid join coverage/dedup invariants + WAV parse."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_ai_npm_spark.multimodal.wav import encode_wav_header, wav_dims

SF = "/root/testdata/sf0.001"


def test_geo_radius_equals_brute_force(spark):
    """The grid path must reproduce the naive theta join pair-for-pair
    (coverage: no within-R pair escapes a 3x3 neighborhood at G=R;
    dedup: each pair meets in exactly one cell)."""
    from vector_ai_npm_spark.operators.interval_ops import join_geo_radius
    from vector_ai_npm_spark.io.sources import load_table

    got = {
        (r.cust, r.supp)
        for r in join_geo_radius(spark, SF).collect()
    }
    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("cust"),
        (F.lit(-60.0) + (F.col("c_custkey") * 7919 % 12000) / 100.0).alias("la"),
        (F.lit(-180.0) + (F.col("c_custkey") * 104729 % 36000) / 100.0).alias("lo"),
    )
    supp = load_table(spark, SF, "supplier").select(
        F.col("s_suppkey").alias("supp"),
        (F.lit(-60.0) + (F.col("s_suppkey") * 7919 % 12000) / 100.0).alias("sla"),
        (F.lit(-180.0) + (F.col("s_suppkey") * 104729 % 36000) / 100.0).alias("slo"),
    )
    d2 = (F.col("la") - F.col("sla")) ** 2 + (F.col("lo") - F.col("slo")) ** 2
    want = {
        (r.cust, r.supp)
        for r in cust.crossJoin(supp).where(d2 <= 9.0).collect()
    }
    assert got == want and len(got) > 0
    # no duplicate pairs from the neighbor expansion
    from vector_ai_npm_spark.operators.interval_ops import (
        join_geo_radius as jg,
    )
    df = jg(spark, SF)
    assert df.count() == df.select("cust", "supp").distinct().count()


def test_geo_plan_is_equi_join_not_cartesian(spark):
    from vector_ai_npm_spark.operators.interval_ops import join_geo_radius

    plan = (
        join_geo_radius(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "ch, rate, bits, frames",
    [(1, 8000, 8, 0), (2, 44100, 16, 999), (1, 16000, 16, 123)],
)
def test_wav_roundtrip(ch, rate, bits, frames):
    p = encode_wav_header(ch, rate, bits, frames)
    assert wav_dims(p) == (ch, rate, bits, frames)


def test_wav_quarantine_signals():
    with pytest.raises(ValueError, match="RIFF-WAVE"):
        wav_dims(b"OggS\x00\x00")
    with pytest.raises(ValueError, match="missing fmt"):
        wav_dims(b"RIFF\x04\x00\x00\x00WAVE")
    # misaligned data chunk
    p = bytearray(encode_wav_header(2, 8000, 16, 10))
    i = p.index(b"data") + 4
    import struct

    p[i : i + 4] = struct.pack("<I", 41)  # 41 bytes vs block=4
    with pytest.raises(ValueError, match="frame-aligned"):
        wav_dims(bytes(p[: 12 + 8 + 16 + 8 + 41]))
    with pytest.raises(ValueError):
        encode_wav_header(0, 8000, 16, 1)
