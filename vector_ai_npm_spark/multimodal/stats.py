"""Corpus-level multimodal statistics (wave 15).

* `multimodal_channel_stats` — per-channel pixel mean/std over the
  WHOLE image corpus: the dataset normalization constants every vision
  training pipeline computes once before training (the ImageNet
  mean/std preprocessing step).  New shape vs the per-asset decode
  faces (multimodal/decodes.py): the decode feeds a corpus-level
  aggregate, so the Python stage emits only 3 integer-sum rows per
  asset; the synth media frame reaches it through ONE bounded
  derived-payload exchange (~100-500 B/row — the shared builders run
  scale_partitions, r13), and corpus text never shuffles.
* `multimodal_audio_vad` — voice-activity segmentation: frames whose
  INTEGER energy (sum of squared 8-bit samples — no float enters the
  segmentation) exceeds a threshold are "voiced"; consecutive voiced
  frames merge into segments via gaps-and-islands (frame_id minus
  per-asset row_number — the sessionize idiom).  The silence-trimming
  / speech-extraction step of an audio curation pipeline.

Both run over the deterministic sha2-chain synthetic media
(multimodal/binary.py::synth_ppm_media / synth_pcm_media), so DuckDB
reconstructs the identical bytes and both queries carry full VALUE
oracles.  Reference scope note: the reference (README.md:5-9) is
text-RAG only — the multimodal layer is north-star scope (B30+).

Cross-engine determinism: every sum is integer (pixel values and
squared samples), folded as DECIMAL(38,0) so 1e14-pixel corpora cannot
overflow BIGINT; mean and std are single identical double chains
(sqrt is IEEE-correctly-rounded, so equal operands give equal bits).

Scale: mapInPandas emits per-asset reductions (3 channel rows / ≤6
frame rows), aggregates are channel- or asset-keyed, the VAD windows
are per-asset over ≤6 rows.  Payload bytes are read once and reduced
in place — the only corpus-sized shuffle is the per-asset frame frame
keyed by asset_id.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.operators.eval_metrics import _o_d2d
from vector_ai_npm_spark.registry import query

# hex-chain PPM pixel reconstruction shared with multimodal_decode's
# oracle (multimodal/queries.py) — w*h*3 ASCII bytes per doc
_DUCK_CHAIN = (
    "sha256(text) || sha256(text || 'a') || sha256(text || 'b')"
)


@query(
    "multimodal_channel_stats",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             4 + CAST(doc_id % 5 AS INTEGER) AS w,
             4 + CAST(doc_id % 3 AS INTEGER) AS h,
             {_DUCK_CHAIN} AS chain
      FROM documents
    ), px AS (
      SELECT CAST((i - 1) % 3 AS BIGINT) AS channel,
             CAST(unicode(substr(chain, CAST(i AS INTEGER), 1)) AS BIGINT) AS v
      FROM m, UNNEST(range(1, w * h * 3 + 1)) AS t(i)
    ), folded AS (
      SELECT channel,
             CAST(COUNT(*) AS BIGINT) AS n_px,
             CAST(SUM(CAST(v AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxx
      FROM px GROUP BY channel
    )
    SELECT channel, n_px,
           {_o_d2d("sx")} / CAST(n_px AS DOUBLE) AS mean_px,
           sqrt(({_o_d2d("sxx")} / CAST(n_px AS DOUBLE))
                - ({_o_d2d("sx")} / CAST(n_px AS DOUBLE))
                  * ({_o_d2d("sx")} / CAST(n_px AS DOUBLE))) AS std_px
    FROM folded
    """,
)
def multimodal_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset normalization constants: population mean/std per RGB
    channel over every pixel of the image corpus, through the REAL P6
    decoder (multimodal/binary.py::decode_pixels) in mapInPandas.  Each
    asset reduces to 3 integer-sum rows inside the Arrow batch; the
    channel aggregate folds those as DECIMAL(38,0); std is the
    population identity sqrt(E[x^2] - E[x]^2) as one double chain."""
    from vector_ai_npm_spark.multimodal.binary import (
        decode_pixels,
        synth_ppm_media,
    )

    media = synth_ppm_media(load_table(spark, sf_dir, "documents"))

    def _sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ch_out, n_out, sx_out, sxx_out = [], [], [], []
            for payload in pdf["payload"]:
                _, _, body = decode_pixels(bytes(payload))
                v = np.frombuffer(body, dtype=np.uint8).astype(np.int64)
                for c in range(3):
                    vc = v[c::3]
                    ch_out.append(c)
                    n_out.append(len(vc))
                    sx_out.append(int(vc.sum()))
                    sxx_out.append(int((vc * vc).sum()))
            yield pd.DataFrame(
                {
                    "channel": pd.Series(ch_out, dtype="int64"),
                    "n_px": pd.Series(n_out, dtype="int64"),
                    "sx": pd.Series(sx_out, dtype="int64"),
                    "sxx": pd.Series(sxx_out, dtype="int64"),
                }
            )

    per_asset = media.mapInPandas(
        _sums, schema="channel long, n_px long, sx long, sxx long"
    )
    d19 = "decimal(19,0)"
    folded = per_asset.groupBy("channel").agg(
        F.sum("n_px").cast("bigint").alias("n_px"),
        F.sum(F.col("sx").cast(d19)).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("sxx").cast(d19)).cast("decimal(38,0)").alias("sxx"),
    )
    mean = F.col("sx").cast("double") / F.col("n_px").cast("double")
    ex2 = F.col("sxx").cast("double") / F.col("n_px").cast("double")
    return folded.select(
        "channel",
        "n_px",
        mean.alias("mean_px"),
        F.sqrt(ex2 - mean * mean).alias("std_px"),
    )


_FRAME_LEN = 16
_VAD_THRESH = 90_000  # integer energy (sum of 16 squared 8-bit samples)


@query(
    "multimodal_audio_vad",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             substr({_DUCK_CHAIN}, 1, 96) AS wave
      FROM documents
    ), f AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_id,
             CAST(list_aggregate(
               list_transform(range(0, {_FRAME_LEN}), j ->
                 CAST(unicode(substr(wave,
                   CAST(i * {_FRAME_LEN} + j AS INTEGER) + 1, 1))
                   AS BIGINT)
                 * CAST(unicode(substr(wave,
                   CAST(i * {_FRAME_LEN} + j AS INTEGER) + 1, 1))
                   AS BIGINT)), 'sum') AS BIGINT) AS energy
      FROM m, UNNEST(range(0, 6)) AS t(i)
    ), voiced AS (
      SELECT doc_id, frame_id, energy,
             frame_id - ROW_NUMBER() OVER (PARTITION BY doc_id
                                           ORDER BY frame_id) AS island
      FROM f WHERE energy > {_VAD_THRESH}
    )
    SELECT doc_id AS asset_id,
           CAST(MIN(frame_id) AS BIGINT) AS start_frame,
           CAST(MAX(frame_id) AS BIGINT) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS energy_sum
    FROM voiced GROUP BY doc_id, island
    """,
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segments over the PCM clips: per-frame INTEGER
    energy (sum of squared samples — the no-float VAD gate), threshold,
    then gaps-and-islands merging of consecutive voiced frames
    (frame_id − per-asset row_number, the sessionize idiom).  Output is
    one row per contiguous voiced segment with its frame span and
    total energy — the silence-trimming unit of an audio pipeline.

    Scale: decode emits ≤6 integer rows per asset from the Arrow
    batch; the island window is keyed by asset over those ≤6 rows; the
    segment aggregate is (asset, island)-keyed.  Payloads never leave
    the scan stage."""
    from vector_ai_npm_spark.multimodal.binary import synth_pcm_media

    media = synth_pcm_media(load_table(spark, sf_dir, "documents"))

    def _energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out_id, out_frame, out_e = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                v = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                n_frames = len(v) // _FRAME_LEN
                frames = v[: n_frames * _FRAME_LEN].reshape(
                    n_frames, _FRAME_LEN
                )
                energy = (frames * frames).sum(axis=1)
                out_id.extend([aid] * n_frames)
                out_frame.extend(range(n_frames))
                out_e.extend(int(e) for e in energy)
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(out_id, dtype="int64"),
                    "frame_id": pd.Series(out_frame, dtype="int64"),
                    "energy": pd.Series(out_e, dtype="int64"),
                }
            )

    frames = media.mapInPandas(
        _energy, schema="asset_id long, frame_id long, energy long"
    )
    w = W.partitionBy("asset_id").orderBy("frame_id")
    voiced = (
        frames.where(F.col("energy") > _VAD_THRESH)
        .withColumn("island", F.col("frame_id") - F.row_number().over(w))
    )
    return (
        voiced.groupBy("asset_id", "island")
        .agg(
            F.min("frame_id").cast("bigint").alias("start_frame"),
            F.max("frame_id").cast("bigint").alias("end_frame"),
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.sum("energy").cast("bigint").alias("energy_sum"),
        )
        .select(
            "asset_id", "start_frame", "end_frame", "n_frames", "energy_sum"
        )
    )


_HIST_BINS = 8  # intensity bins of width 32 over [0, 256)


@query(
    "multimodal_intensity_histogram",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             4 + CAST(doc_id % 5 AS INTEGER) AS w,
             4 + CAST(doc_id % 3 AS INTEGER) AS h,
             {_DUCK_CHAIN} AS chain
      FROM documents
    ), px AS (
      SELECT CAST(unicode(substr(chain, CAST(i AS INTEGER), 1)) // 32
                  AS BIGINT) AS bin
      FROM m, UNNEST(range(1, w * h * 3 + 1)) AS t(i)
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM px
    )
    SELECT b.bin, CAST(COALESCE(c.n_px, 0) AS BIGINT) AS n_px,
           CAST(COALESCE(c.n_px, 0) AS DOUBLE)
             / CAST(t.n_total AS DOUBLE) AS frac
    FROM (SELECT unnest(range(0, {_HIST_BINS})) AS bin) b
    LEFT JOIN (SELECT CAST(bin AS BIGINT) AS bin,
                      CAST(COUNT(*) AS BIGINT) AS n_px
               FROM px GROUP BY bin) c USING (bin)
    CROSS JOIN tot t
    """,
)
def multimodal_intensity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus intensity histogram ({_HIST_BINS} bins of width 32)
    through the REAL decoder — the exposure/contrast distribution
    check a vision-curation pipeline runs to catch all-black frames,
    blown highlights, and synthetic screenshots before training (the
    histogram-based filters of LAION-style pipelines).  Same execution
    shape as `multimodal_channel_stats`: each asset reduces to ≤8
    (bin, count) integer rows inside the Arrow batch, the global fold
    is an 8-row aggregate, empty bins densify from a literal frame —
    the media frame crosses only the builders' bounded derived-payload
    exchange (scale_partitions, r13), counts are exact integers."""
    from vector_ai_npm_spark.multimodal.binary import (
        decode_pixels,
        synth_ppm_media,
    )

    media = synth_ppm_media(load_table(spark, sf_dir, "documents"))

    def _hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            bins_out, n_out = [], []
            for payload in pdf["payload"]:
                _, _, body = decode_pixels(bytes(payload))
                v = np.frombuffer(body, dtype=np.uint8)
                counts = np.bincount(v >> 5, minlength=_HIST_BINS)
                for b in range(_HIST_BINS):
                    if counts[b]:
                        bins_out.append(b)
                        n_out.append(int(counts[b]))
            yield pd.DataFrame(
                {
                    "bin": pd.Series(bins_out, dtype="int64"),
                    "n_px": pd.Series(n_out, dtype="int64"),
                }
            )

    per_asset = media.mapInPandas(_hist, schema="bin long, n_px long")
    counts = per_asset.groupBy("bin").agg(
        F.sum("n_px").cast("bigint").alias("n_px")
    )
    spark_bins = F.explode(
        F.sequence(F.lit(0), F.lit(_HIST_BINS - 1))
    ).alias("bin")
    all_bins = load_table(spark, sf_dir, "documents").limit(1).select(
        spark_bins
    ).select(F.col("bin").cast("bigint").alias("bin"))
    tot = counts.agg(F.sum("n_px").cast("bigint").alias("n_total"))
    return (
        all_bins.join(counts, "bin", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.coalesce("n_px", F.lit(0)).cast("bigint").alias("n_px"),
            (
                F.coalesce("n_px", F.lit(0)).cast("double")
                / F.col("n_total").cast("double")
            ).alias("frac"),
        )
    )
