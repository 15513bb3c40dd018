"""Registry entries for multimodal columns (B30 + binary plumbing):
the column table, the synth-payload decode / resize / frame-sample
faces and the audio and video branches.  The codec roundtrip faces live
in ``decodes.py``, the container audits in ``audits.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.multimodal.binary import (
    extract_features,
    frame_sample,
    synth_media,
)
from vector_ai_npm_spark.registry import query


@query(
    "multimodal_cols",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           substring(d.text, 1, 40) AS text_head,
           CAST(len(e.embedding) AS BIGINT) AS dim,
           CAST(e.embedding[1] AS DOUBLE) AS first_component,
           e.label,
           json_object('lang', d.lang, 'source', d.source) AS meta_json
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30: one table carrying text + vector + struct-ish metadata + JSON
    — documents ⋈ embeddings on id. At scale both sides are bucketed on
    the id so this join is co-located (no shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.substring("text", 1, 40).alias("text_head"),
        F.size("embedding").cast("long").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_component"),
        "label",
        F.to_json(F.struct("lang", "source")).alias("meta_json"),
    )


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_features_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, oracle-checkable half: modality assignment
    + payload byte length (fixture text is ASCII so utf-8 bytes ==
    chars). The decode-dependent half is multimodal_decode (rows-only)."""
    media = synth_media(load_table(spark, sf_dir, "documents"))
    return media.select(
        "asset_id", "modality", F.length("payload").cast("long").alias("n_bytes")
    )


@query(
    "multimodal_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             4 + CAST(doc_id % 5 AS INTEGER) AS w,
             4 + CAST(doc_id % 3 AS INTEGER) AS h,
             sha256(text) || sha256(text || 'a') || sha256(text || 'b')
               AS chain
      FROM documents
    )
    SELECT doc_id AS asset_id,
           'image' AS modality,
           CAST(length('P6' || chr(10) || w || ' ' || h || chr(10)
                       || '255' || chr(10)) + w * h * 3 AS BIGINT)
             AS n_bytes,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           ROUND(list_aggregate(
                   list_transform(range(1, w * h * 3 + 1),
                                  i -> unicode(substr(chain, CAST(i AS INTEGER), 1))),
                   'avg'), 6) AS mean_pixel
    FROM m
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode/feature-extract over GENUINE P6 PPM payloads
    (synth_ppm_media), through the real pure-Python decoder — no fake.
    The oracle reconstructs the same header + sha2-hex pixel bytes in
    DuckDB and checks decoded dims, byte counts, and the mean pixel
    value, so a decoder regression (stride, header parse, pixel slice)
    hash-mismatches. Round 6dp both sides; the mean is an exact-integer
    sum ÷ count in double, bit-stable across engines."""
    from vector_ai_npm_spark.multimodal.binary import synth_ppm_media

    media = synth_ppm_media(load_table(spark, sf_dir, "documents"))
    return extract_features(media, fake_decoder=False).select(
        "asset_id",
        "modality",
        "n_bytes",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           CAST(i AS BIGINT) AS frame_no,
           CAST(i * 32 AS BIGINT) AS byte_offset
    FROM documents,
         UNNEST(range(0, least(8, CAST(length(text) // 32 AS BIGINT) + 1))) AS t(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: evenly-spaced windows per payload,
    exploded JVM-side (posexplode of a sequence)."""
    media = synth_media(load_table(spark, sf_dir, "documents"))
    return frame_sample(media, every_n_bytes=32, max_frames=8)


@query(
    "multimodal_resize",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             4 + CAST(doc_id % 5 AS INTEGER) AS w,
             4 + CAST(doc_id % 3 AS INTEGER) AS h,
             sha256(text) || sha256(text || 'a') || sha256(text || 'b')
               AS chain
      FROM documents
    )
    SELECT doc_id AS asset_id,
           CAST(2 AS BIGINT) AS out_w,
           CAST(2 AS BIGINT) AS out_h,
           ROUND(list_aggregate(
             list_transform(range(0, 12), i ->
               unicode(substr(chain,
                 (CAST(i AS INTEGER) // 6 * h // 2 * w
                  + (CAST(i AS INTEGER) // 3) % 2 * w // 2) * 3
                 + CAST(i AS INTEGER) % 3 + 1, 1))),
             'avg'), 6) AS mean_resized
    FROM m
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN resize of the genuine P6 payloads to 2×2 through the real
    decoder + re-encode (multimodal.binary.resize_images). The oracle
    recomputes the SAME nearest-neighbor index map over the
    DuckDB-reconstructed pixel bytes — src = floor(dst·src/2) per axis,
    12 sampled bytes averaged exactly — so a stride, index-map, or
    channel-order regression hash-mismatches. Mean is an exact integer
    sum ÷ 12 in doubles, round 6dp both sides."""
    from vector_ai_npm_spark.multimodal.binary import (
        resize_images,
        synth_ppm_media,
    )

    media = synth_ppm_media(load_table(spark, sf_dir, "documents"))
    return resize_images(media, out_w=2, out_h=2).select(
        "asset_id", "out_w", "out_h",
        F.round("mean_resized", 6).alias("mean_resized"),
    )


@query(
    "multimodal_audio_energy",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             substr(sha256(text) || sha256(text || 'a') || sha256(text || 'b'),
                    1, 96) AS wave
      FROM documents
    ),
    f AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_id,
             list_transform(range(0, 16), j ->
               unicode(substr(wave,
                 CAST(i * 16 + j AS INTEGER) + 1, 1))) AS vs
      FROM m, UNNEST(range(0, 6)) AS t(i)
    )
    SELECT doc_id AS asset_id, frame_id,
           CAST(16 AS BIGINT) AS n_samples,
           ROUND(sqrt(list_aggregate(
             list_transform(vs, v -> CAST(v * v AS DOUBLE)), 'avg')), 6)
             AS rms
    FROM f
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30+ audio branch: per-frame RMS energy over deterministic 8-bit
    PCM clips (96 samples, 6 frames of 16) through the REAL byte decode
    (numpy frombuffer in mapInPandas — the libsndfile seam). The oracle
    reconstructs the identical waveform in DuckDB (sha256 hex chain +
    unicode) and recomputes every frame's RMS — a VALUE oracle for the
    audio path, like the image decode/resize ones."""
    from vector_ai_npm_spark.multimodal.binary import (
        audio_frame_energy,
        synth_pcm_media,
    )

    media = synth_pcm_media(load_table(spark, sf_dir, "documents"))
    return audio_frame_energy(media, frame_len=16).withColumn(
        "rms", F.round(F.col("rms"), 6)
    )


@query(
    "multimodal_scene_detect",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             substr(sha256(text) || sha256(text || 'a') || sha256(text || 'b'),
                    1, 96) AS clip
      FROM documents
    ),
    d AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_id,
             list_aggregate(
               list_transform(range(0, 12), j ->
                 CAST(abs(
                   unicode(substr(clip,
                     CAST(i * 12 + j AS INTEGER) + 1, 1))
                   - unicode(substr(clip,
                     CAST((i - 1) * 12 + j AS INTEGER) + 1, 1))
                 ) AS DOUBLE)),
               'avg') AS mean_abs_delta
      FROM m, UNNEST(range(1, 8)) AS t(i)
    )
    SELECT doc_id AS asset_id, frame_id,
           ROUND(mean_abs_delta, 6) AS mean_abs_delta,
           mean_abs_delta > 20.0 AS is_scene_change
    FROM d
    """,
)
def multimodal_scene_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30+ video branch: shot-boundary detection — mean absolute byte
    delta between consecutive 12-byte frames of an 8-frame clip,
    flagged above threshold 20. Decode + frame-pair math run in numpy
    over Arrow batches (the ffmpeg seam, same shape as the audio RMS
    path); the oracle reconstructs the clip in DuckDB and recomputes
    every consecutive-frame delta — a VALUE oracle for the video path."""
    from vector_ai_npm_spark.multimodal.binary import (
        scene_changes,
        synth_video_media,
    )

    media = synth_video_media(load_table(spark, sf_dir, "documents"))
    return scene_changes(media, frame_bytes=12, threshold=20.0)
