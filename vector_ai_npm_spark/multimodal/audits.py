"""No-codec container audits: seven formats built from one table.

Each audit is the pre-decode capacity pass a crawl pipeline runs before
provisioning codec capacity: how many assets, which variants, how many
pages/frames/seconds.  Per ``documents.doc_id`` the executors build a
spec-valid container from a deterministic formula, parse it back from
the REAL bytes, and the query aggregates what the parse reported.  The
DuckDB oracle rebuilds the same aggregates from the formula alone, so a
defect in either the encoder or the parser flips a count or a sum.  No
pixel, sample or page content is decoded; payloads never leave the
executor that made them.

Every audit is one row of :data:`AUDITS` — (row function, output
schema, spread) — fed to :func:`_parse_back`, plus its own final
aggregate.  ``spread`` round-robins the 8 B/row doc_id frame to executor
parallelism first (``io.sources.scale_partitions``), so a byte-sized
input split cannot serialize a CPU-bound synth+parse onto one core.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table, scale_partitions
from vector_ai_npm_spark.multimodal.apng import (
    apng_audit,
    encode_apng_skeleton,
    encode_png_still,
)
from vector_ai_npm_spark.multimodal.exif import (
    display_dims,
    encode_jpeg_with_exif,
    exif_orientation,
)
from vector_ai_npm_spark.multimodal.mp4 import encode_mp4_skeleton, mp4_audit
from vector_ai_npm_spark.multimodal.pdf import encode_pdf, pdf_audit
from vector_ai_npm_spark.multimodal.tiff import encode_tiff_header, tiff_dims
from vector_ai_npm_spark.multimodal.wav import encode_wav_header, wav_dims
from vector_ai_npm_spark.multimodal.webp import encode_webp_header, webp_dims
from vector_ai_npm_spark.registry import query


# TIFF: both endiannesses, width as LONG, height as SHORT, filler tags
# to skip.  Pixel decode (LZW/PackBits/JPEG-in-TIFF) is the documented
# seam; this is the pass over a scanned-document archive.
def _tiff_row(did: int) -> tuple:
    w = 1 + did % 4000
    h = 1 + (did * 11) % 3000
    little = did % 2 == 0
    pw, ph, endian = tiff_dims(encode_tiff_header(w, h, little=little))
    ok = (pw, ph) == (w, h) and endian == ("little" if little else "big")
    return endian, pw, ph, ok


# EXIF: a JPEG skeleton (SOI + the JFIF APP0 the walker must skip + an
# APP1 Exif TIFF blob) read through the TIFF IFD walker — the
# rotate-before-train audit.
def _exif_row(did: int) -> tuple:
    orient = 1 + did % 8
    w = 16 + did % 31
    h = 16 + (did * 3) % 29
    little = did % 2 == 0
    jpeg = encode_jpeg_with_exif(w, h, orient, little=little)
    po, pw, ph, endian = exif_orientation(jpeg)
    dw, dh = display_dims(pw, ph, po)
    ok = (po, pw, ph) == (orient, w, h) and endian == (
        "little" if little else "big"
    )
    return po, po >= 5, dw, dh, ok


# PDF: xref skeletons; a third use a TWO-LEVEL pages tree, which pins
# the spec rule that the ROOT ``/Count`` is authoritative (a parser that
# counts leaf objects gets nested documents wrong).
_PDF_VERSIONS = ("1.4", "1.5", "1.7", "2.0")


def _pdf_row(did: int) -> tuple:
    version = _PDF_VERSIONS[did % 4]
    n_pages = 1 + did % 20
    enc = did % 5 == 0
    payload = encode_pdf(
        n_pages, version, two_level=did % 3 == 0, encrypted=enc
    )
    pv, pn, pe = pdf_audit(payload)
    return pv, pn, pe, (pv, pn, pe) == (version, n_pages, enc)


# APNG: a third of the docs are animated, the rest are plain PNG stills
# the audit must classify as 1-frame assets.
def _apng_row(did: int) -> tuple:
    w = 8 + did % 24
    h = 8 + (did * 5) % 21
    animated = did % 3 == 0
    frames = 1 + did % 6 if animated else 1
    plays = did % 4 if animated else 0
    if animated:
        payload = encode_apng_skeleton(w, h, frames, plays)
    else:
        payload = encode_png_still(w, h)
    pw, ph, pf, pp, pa = apng_audit(payload)
    ok = (pw, ph, pf, pp, pa) == (w, h, frames, plays, animated)
    return pa, pf, pp == 0 and pa, pw * ph * pf, ok


# WAV: channels / rate / bit depth / frames from the fmt + data chunks.
def _wav_row(did: int) -> tuple:
    ch = 1 + did % 2
    rate = (8000, 16000, 44100)[did % 3]
    bits = 8 * (1 + did % 2)
    frames = 100 + did % 400
    pch, prate, pbits, pframes = wav_dims(
        encode_wav_header(ch, rate, bits, frames)
    )
    ok = (pch, prate, pbits, pframes) == (ch, rate, bits, frames)
    return pch, prate, pframes, pframes * 1_000_000 // prate, ok


# MP4: mvhd v0 (even doc_ids, 1 kHz timescale) and v1 (odd, 90 kHz).
_MP4_BRANDS = (b"isom", b"mp42", b"qt  ")


def _mp4_row(did: int) -> tuple:
    brand = _MP4_BRANDS[did % 3]
    timescale = 1000 if did % 2 == 0 else 90000
    duration = 1000 + (did * 37) % 100000
    n_tracks = 1 + did % 3
    payload = encode_mp4_skeleton(
        brand, timescale, duration, n_tracks, mvhd_v1=did % 2 == 1
    )
    pb, pt, pdur, ptr = mp4_audit(payload)
    ok = (pb.encode("latin-1"), pt, pdur, ptr) == (
        brand, timescale, duration, n_tracks
    )
    return pb, ptr, pdur * 1000 // pt, ok


# WebP: VP8 / VP8L / VP8X containers.  Pixel decode is capability-gated
# (webp.decode_webp_auto), so this face reports only the pure-Python
# metadata and its hash is stable whether or not the cluster has the
# codec.
_WEBP_VARIANTS = ("vp8", "vp8l", "vp8x")


def _webp_row(did: int) -> tuple:
    w = 1 + did % 300
    h = 1 + (did * 7) % 200
    variant = _WEBP_VARIANTS[did % 3]
    pw, ph, pv = webp_dims(encode_webp_header(w, h, variant))
    return pv, pw, ph, (pw, ph, pv) == (w, h, variant)


# query name -> (row function, output schema, spread).
#
# exif and webp are NOT spread, a measured counter-case (r14): their
# parse reads a handful of fixed-offset header fields per asset (~0.3 s
# of Python for the whole sf0.1 corpus), so the RoundRobin exchange cost
# more than the compute it freed — isolated exif 0.49 s -> 0.53-0.64 s,
# webp 0.40 s -> 0.58 s.  The spread stays where per-row codec cost
# dominates.
AUDITS: dict[str, tuple[Callable[[int], tuple], str, bool]] = {
    "multimodal_tiff_dims": (
        _tiff_row,
        "endianness string, width long, height long, ok boolean",
        True,
    ),
    "multimodal_exif_orientation": (
        _exif_row,
        "orientation long, needs_transpose boolean, "
        "display_w long, display_h long, ok boolean",
        False,
    ),
    "multimodal_pdf_pages": (
        _pdf_row,
        "version string, n_pages long, encrypted boolean, ok boolean",
        True,
    ),
    "multimodal_apng_frames": (
        _apng_row,
        "is_animated boolean, frames long, infinite boolean, "
        "pixels long, ok boolean",
        True,
    ),
    "multimodal_wav_dims": (
        _wav_row,
        "channels long, sample_rate long, frames long, "
        "micros long, ok boolean",
        True,
    ),
    "multimodal_mp4_dims": (
        _mp4_row,
        "brand string, tracks long, millis long, ok boolean",
        True,
    ),
    "multimodal_webp_dims": (
        _webp_row,
        "variant string, width long, height long, ok boolean",
        False,
    ),
}


def _parse_back(
    spark: SparkSession,
    sf_dir: str,
    row: Callable[[int], tuple],
    schema: str,
    spread: bool,
) -> DataFrame:
    """One output row per document: ``row(doc_id)`` over Arrow batches
    of the doc_id column, optionally spread first (module docstring)."""
    columns = [field.split()[0] for field in schema.split(", ")]
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def _audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [row(int(did)) for did in pdf["doc_id"]], columns=columns
            )

    if spread:
        docs = scale_partitions(docs, spark)
    return docs.mapInPandas(_audit, schema=schema)


@query(
    "multimodal_tiff_dims",
    oracle="""
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'little' ELSE 'big' END
             AS endianness,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(1 + doc_id % 4000) AS BIGINT) AS sum_width,
           CAST(SUM(1 + (doc_id * 11) % 3000) AS BIGINT) AS sum_height,
           TRUE AS all_parsed
    FROM documents
    GROUP BY 1
    """,
)
def multimodal_tiff_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF dims/endianness audit over real header bytes — see module
    docstring."""
    parsed = _parse_back(spark, sf_dir, *AUDITS["multimodal_tiff_dims"])
    return parsed.groupBy("endianness").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.bool_and("ok").alias("all_parsed"),
    )


@query(
    "multimodal_exif_orientation",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             1 + CAST(doc_id % 8 AS INTEGER) AS orientation,
             16 + CAST(doc_id % 31 AS INTEGER) AS w,
             16 + CAST((doc_id * 3) % 29 AS INTEGER) AS h
      FROM documents
    )
    SELECT CAST(orientation AS BIGINT) AS orientation,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           orientation >= 5 AS needs_transpose,
           CAST(SUM(CASE WHEN orientation >= 5 THEN h ELSE w END)
                AS BIGINT) AS sum_display_width,
           CAST(SUM(CASE WHEN orientation >= 5 THEN w ELSE h END)
                AS BIGINT) AS sum_display_height,
           TRUE AS all_parsed
    FROM m
    GROUP BY 1, 3
    """,
)
def multimodal_exif_orientation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXIF orientation audit — see the module docstring.  Per doc a REAL
    JPEG skeleton (SOI + JFIF APP0 the walker must skip + APP1 Exif
    TIFF blob, endianness alternating by doc_id) is built and parsed
    back in the executors; the oracle reconstructs orientation/dims
    from the synthesis formula, so a marker-walk, IFD, endianness, or
    transpose defect flips a count or a display-dim sum → hash red."""
    parsed = _parse_back(
        spark, sf_dir, *AUDITS["multimodal_exif_orientation"]
    )
    return parsed.groupBy("orientation", "needs_transpose").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("display_w").cast("bigint").alias("sum_display_width"),
        F.sum("display_h").cast("bigint").alias("sum_display_height"),
        F.bool_and("ok").alias("all_parsed"),
    ).select(
        "orientation", "n_assets", "needs_transpose",
        "sum_display_width", "sum_display_height", "all_parsed",
    )


@query(
    "multimodal_pdf_pages",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INTEGER)
               WHEN 0 THEN '1.4' WHEN 1 THEN '1.5'
               WHEN 2 THEN '1.7' ELSE '2.0'
             END AS version,
             1 + CAST(doc_id % 20 AS INTEGER) AS n_pages,
             doc_id % 5 = 0 AS encrypted
      FROM documents
    )
    SELECT version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_pages) AS BIGINT) AS total_pages,
           CAST(SUM(CASE WHEN encrypted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_encrypted,
           TRUE AS all_parsed
    FROM m GROUP BY version
    """,
)
def multimodal_pdf_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF corpus audit — see the module docstring.  Version cycles over
    four header strings, page counts 1..20, a third of the docs use a
    TWO-LEVEL pages tree (root Count ≠ any single node's Kids length),
    a fifth carry an /Encrypt trailer entry.  The Spark side gets every
    number ONLY by building the skeleton bytes and parsing them back
    (the encode_webp_header discipline), so a header, object-walk,
    catalog-chain, or Count defect flips a sum → hash red."""
    parsed = _parse_back(spark, sf_dir, *AUDITS["multimodal_pdf_pages"])
    return parsed.groupBy("version").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_pages").cast("bigint").alias("total_pages"),
        F.sum(F.when(F.col("encrypted"), 1).otherwise(0))
        .cast("bigint").alias("n_encrypted"),
        F.bool_and("ok").alias("all_parsed"),
    )


@query(
    "multimodal_apng_frames",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             8 + CAST(doc_id % 24 AS INTEGER) AS w,
             8 + CAST((doc_id * 5) % 21 AS INTEGER) AS h,
             CASE WHEN doc_id % 3 = 0
                  THEN 1 + CAST(doc_id % 6 AS INTEGER) ELSE 1 END AS frames,
             CASE WHEN doc_id % 3 = 0
                  THEN CAST(doc_id % 4 AS INTEGER) ELSE 0 END AS plays,
             doc_id % 3 = 0 AS animated
      FROM documents
    )
    SELECT animated AS is_animated,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(frames) AS BIGINT) AS total_frames,
           CAST(SUM(CASE WHEN plays = 0 AND animated THEN 1 ELSE 0 END)
                AS BIGINT) AS n_infinite_loops,
           CAST(SUM(w * h * frames) AS BIGINT) AS decode_pixels,
           TRUE AS all_parsed
    FROM m GROUP BY 1
    """,
)
def multimodal_apng_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APNG corpus audit — a third of the docs are animated (1-6 frames
    cycling, loop count 0-3 where 0 = infinite per spec), the rest are
    plain PNGs the audit must classify as 1-frame stills.  Every
    number comes from building real CRC-valid chunk bytes and parsing
    them back; decode_pixels = Σ w·h·frames is the capacity figure the
    audit exists to produce."""
    parsed = _parse_back(spark, sf_dir, *AUDITS["multimodal_apng_frames"])
    return parsed.groupBy("is_animated").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("frames").cast("bigint").alias("total_frames"),
        F.sum(F.when(F.col("infinite"), 1).otherwise(0))
        .cast("bigint").alias("n_infinite_loops"),
        F.sum("pixels").cast("bigint").alias("decode_pixels"),
        F.bool_and("ok").alias("all_parsed"),
    )


@query(
    "multimodal_wav_dims",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             1 + CAST(doc_id % 2 AS INTEGER) AS channels,
             CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100
             END AS rate,
             8 * (1 + CAST(doc_id % 2 AS INTEGER)) AS bits,
             100 + CAST(doc_id % 400 AS INTEGER) AS frames
      FROM documents
    )
    SELECT CAST(channels AS BIGINT) AS channels,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(frames) AS BIGINT) AS total_frames,
           CAST(SUM(frames * 1000000 // rate) AS BIGINT) AS total_micros,
           TRUE AS all_parsed
    FROM m GROUP BY 1, 2
    """,
)
def multimodal_wav_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV corpus audit — the pre-transcode capacity pass (how many
    channel-seconds at which rates).  Real RIFF bytes built and parsed
    back per doc; total_micros uses integer floor-division so both
    engines sum exact integers."""
    parsed = _parse_back(spark, sf_dir, *AUDITS["multimodal_wav_dims"])
    return parsed.groupBy("channels", "sample_rate").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("frames").cast("bigint").alias("total_frames"),
        F.sum("micros").cast("bigint").alias("total_micros"),
        F.bool_and("ok").alias("all_parsed"),
    )


@query(
    "multimodal_mp4_dims",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42' ELSE 'qt  '
             END AS brand,
             CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 90000 END AS timescale,
             1000 + CAST((doc_id * 37) % 100000 AS BIGINT) AS duration,
             1 + CAST(doc_id % 3 AS INTEGER) AS n_tracks
      FROM documents
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(n_tracks) AS BIGINT) AS total_tracks,
           CAST(SUM(duration * 1000 // timescale) AS BIGINT) AS total_millis,
           TRUE AS all_parsed
    FROM m GROUP BY brand
    """,
)
def multimodal_mp4_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 audit: per-brand asset counts, track volume, and total
    MOVIE SECONDS (the transcode/frame-sample capacity unit) from real
    ISO-BMFF box bytes — mvhd v0 (even doc_ids, 1 kHz timescale) and
    v1 (odd, 90 kHz) both exercised, durations converted with exact
    integer floor-division so both engines sum integers."""
    parsed = _parse_back(spark, sf_dir, *AUDITS["multimodal_mp4_dims"])
    return parsed.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("tracks").cast("bigint").alias("total_tracks"),
        F.sum("millis").cast("bigint").alias("total_millis"),
        F.bool_and("ok").alias("all_parsed"),
    )


@query(
    "multimodal_webp_dims",
    oracle="""
    SELECT CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l' ELSE 'vp8x'
           END AS variant,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(1 + doc_id % 300) AS BIGINT) AS sum_width,
           CAST(SUM(1 + (doc_id * 7) % 200) AS BIGINT) AS sum_height,
           TRUE AS all_parsed
    FROM documents
    GROUP BY 1
    """,
)
def multimodal_webp_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP corpus audit — see the module docstring.  The oracle
    reconstructs (variant, w, h) from the deterministic synthesis
    formula; the Spark side gets them ONLY by building the container
    bytes and parsing them back, so a regression in either the RIFF
    chunk walk or any variant's dimension-field layout flips a sum →
    hash mismatch."""
    parsed = _parse_back(spark, sf_dir, *AUDITS["multimodal_webp_dims"])
    return parsed.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.bool_and("ok").alias("all_parsed"),
    )
