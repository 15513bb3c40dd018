"""Wave 55: Holt linear-trend fold semantics + APNG control audit."""

from __future__ import annotations

import struct

import pytest

from vector_ai_npm_spark.multimodal.apng import (
    _PNG_SIG,
    _chunk,
    apng_audit,
    encode_apng_skeleton,
)


def _holt_reference(ys):
    """Textbook α=β=½ recurrence, l1=y1 b1=0 — the independent check
    the SQL folds must reproduce bit-for-bit."""
    out = []
    l = b = None
    for y in ys:
        if l is None:
            l, b = float(y), 0.0
        else:
            nl = 0.5 * y + 0.5 * (l + b)
            b = 0.25 * y - 0.25 * l + 0.75 * b
            l = nl
        out.append((l, b))
    return out


def test_holt_fold_matches_reference(spark):
    from pyspark.sql import functions as F

    ys = [10, 14, 18, 22, 30, 26, 40]
    df = spark.createDataFrame(
        [("a", i, y) for i, y in enumerate(ys)], "t string, day int, c int"
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("t").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    folded = df.withColumn(
        "prefix",
        F.collect_list(F.array(F.col("c").cast("double"), F.lit(0.0))).over(w),
    ).select(
        "day",
        F.expr(
            "aggregate(prefix, CAST(NULL AS ARRAY<DOUBLE>), (acc, x) -> "
            "IF(acc IS NULL, x, array("
            "0.5D * x[0] + 0.5D * (acc[0] + acc[1]), "
            "0.25D * x[0] - 0.25D * acc[0] + 0.75D * acc[1])))"
        ).alias("lb"),
    )
    got = {r.day: (r.lb[0], r.lb[1]) for r in folded.collect()}
    ref = _holt_reference(ys)
    for i, (l, b) in enumerate(ref):
        assert got[i] == (l, b), (i, got[i], (l, b))


def test_holt_trend_tracks_linear_drift():
    """On a perfectly linear series the trend estimate must converge
    toward the true slope (here 5/day) — the property that separates
    Holt from SES, whose forecasts lag a drifting level forever."""
    ys = [100 + 5 * i for i in range(40)]
    ref = _holt_reference(ys)
    assert abs(ref[-1][1] - 5.0) < 0.2
    # one-step forecast error shrinks accordingly
    l, b = ref[-2]
    assert abs((l + b) - ys[-1]) < 1.0


def test_apng_roundtrip_and_plain_png():
    for frames, plays in ((1, 0), (3, 2), (6, 0)):
        p = encode_apng_skeleton(16, 9, frames, plays)
        assert apng_audit(p) == (16, 9, frames, plays, True)
    plain = (
        _PNG_SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 7, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", b"")
        + _chunk(b"IEND", b"")
    )
    assert apng_audit(plain) == (5, 7, 1, 0, False)


def test_apng_corrupt_control_chunks_raise():
    p = bytearray(encode_apng_skeleton(8, 8, 2, 1))
    i = p.index(b"acTL")
    p[i + 4] ^= 0xFF  # garble acTL payload → CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        apng_audit(bytes(p))
    # frame-count disagreement: declare 3, provide 2 fcTLs
    q = bytearray(encode_apng_skeleton(8, 8, 2, 1))
    j = q.index(b"acTL") + 4
    q[j : j + 8] = struct.pack(">II", 3, 1)
    # rewrite CRC so only the COUNT is wrong, not the envelope
    import zlib

    crc = zlib.crc32(b"acTL" + bytes(q[j : j + 8])) & 0xFFFFFFFF
    q[j + 8 : j + 12] = struct.pack(">I", crc)
    with pytest.raises(ValueError, match="fcTL"):
        apng_audit(bytes(q))
    with pytest.raises(ValueError, match="not a PNG"):
        apng_audit(b"GIF89a")
    with pytest.raises(ValueError):
        encode_apng_skeleton(4, 4, 0, 0)
