"""Perceptual-hash image near-duplication (wave 3): dHash + banded pairs.

Image-level near-dup detection for multimodal corpora — the visual
sibling of `dedup_simhash`: hash every image to a tiny fingerprint,
bucket by fingerprint bands, verify candidates by Hamming distance.
The fingerprint is the DIFFERENCE HASH (dHash, row-gradient hash —
krawetz.net's classic recipe): nearest-neighbor resample to a 9×8 luma
grid, one bit per horizontal gradient (left > right), 64 bits total.

dHash over pHash deliberately: pHash's DCT + median threshold is
float-valued (fold-order- and libm-sensitive across engines), while
dHash is INTEGER-ONLY end to end — luma sums, floor-divide resample
indices, comparisons, bit packing — so the whole pipeline carries a
full DuckDB value oracle (reconstructed payload → same bits → same hex)
instead of a rows-only contract.  At 100 TB the hash pass is one
Arrow-batched map over payloads (the ~150 B/row derived P6 frame
crosses ONE bounded RoundRobin exchange — scale_partitions, r13 — and
only the 16-byte fingerprint leaves the map stage), and the pair stage
is the SimHash shape:
explode to 4×16-bit bands, equi-join on band value, Hamming-verify the
collisions; output-bound, never all-pairs.

Robustness contract (tests/test_wave7.py + the pairs oracle): an exact
copy collides at Hamming 0; the planted one-pixel perturbation hits a
single sampled grid cell (source images are ≥ grid size, so resample
indices are strictly increasing and each pixel lands in ≤1 cell ×1
gradient) — planted twins sit at Hamming ≤ 1, found through the 3
untouched bands — while unrelated fixture images (random-luma bits,
~Bernoulli(½) per gradient) pass the 16-bit band gate ~4·C(n,2)/2¹⁶
times and essentially never survive the Hamming ≤ 6 verify: measured
at sf0.01, the pairs output is exactly the 50 planted twins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.multimodal.binary import decode_pixels, hex_chain
from vector_ai_npm_spark.registry import query

_GRID_W, _GRID_H = 9, 8          # 8 gradients/row × 8 rows = 64 bits
_PLANT_OFFSET = 10**12   # far above any replica id lattice (the
# 10x scale replica shifts doc_id by 10^7 per copy — an offset in
# that range would collide with replicated ids and truncate the
# base-media filter, found by the rows@10x count)
_PLANT_EVERY = 10                # every 10th doc gets a perturbed twin
_HAMMING_MAX = 6

_DHASH_SCHEMA = "asset_id long, dhash string, hi long, lo long"


# --------------------------------------------------------------------------
# Spark side
# --------------------------------------------------------------------------


# The pixel source is an 8-block (512-char) hex chain, not the synth
# payloads' 3 blocks: dHash needs images at least 9×8 so every grid cell
# samples a DISTINCT source pixel; the 3-block chain's 4-8 px images
# upsample degenerately — duplicated sample columns force gradients to
# zero and collapse the hash to ~12 effective bits, measured as ~520
# accidental fixture collisions.
_CHAIN_SALTS = ("a", "b", "c", "d", "e", "f", "g")


def _payload(body_chain: F.Column) -> F.Column:
    w = (F.lit(9) + F.col("doc_id") % 6).cast("int")
    h = (F.lit(8) + F.col("doc_id") % 4).cast("int")
    header = F.format_string("P6\n%d %d\n255\n", w, h)
    return F.encode(
        F.concat(header, F.substring(body_chain, F.lit(1), w * h * 3)),
        "utf-8",
    )


def media_base(docs: DataFrame) -> DataFrame:
    """Base P6 payloads (synth_ppm_media recipe at dHash-sized dims)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        _payload(hex_chain(*_CHAIN_SALTS)).alias("payload"),
    )


def media_with_plants(docs: DataFrame) -> DataFrame:
    """``media_base`` plus, for every ``_PLANT_EVERY``-th doc, a twin
    whose FIRST pixel byte is corrupted ('z' over the first chain char)
    — the planted near-dup set."""
    perturbed = docs.where(F.col("doc_id") % _PLANT_EVERY == 0).select(
        (F.col("doc_id") + _PLANT_OFFSET).alias("asset_id"),
        _payload(
            F.concat(
                F.lit("z"), F.substring(hex_chain(*_CHAIN_SALTS), 2, 511)
            )
        ).alias("payload"),
    )
    return media_base(docs).unionByName(perturbed)


def dhash_frame(media: DataFrame) -> DataFrame:
    """(asset_id, dhash hex, hi, lo) via Arrow-batched decode + integer
    dHash.  Only the fingerprint leaves the map stage."""
    from vector_ai_npm_spark.io.sources import scale_partitions

    # the pure-Python decode+hash below is CPU-bound per row; the P6
    # payload is ~150 derived bytes/row, so spreading to executor
    # parallelism costs a metadata-sized exchange at any corpus size
    media = scale_partitions(media, media.sparkSession)

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_hash, out_hi, out_lo = [], [], []
            for b in pdf["payload"]:
                w, h, px = decode_pixels(bytes(b))
                # integer luma per pixel (r+g+b), row-major
                luma = [
                    px[k * 3] + px[k * 3 + 1] + px[k * 3 + 2]
                    for k in range(w * h)
                ]
                bits = []
                for i in range(_GRID_H):
                    y = (i * h) // _GRID_H
                    row = [
                        luma[y * w + (j * w) // _GRID_W]
                        for j in range(_GRID_W)
                    ]
                    bits.extend(
                        1 if row[j] > row[j + 1] else 0
                        for j in range(_GRID_W - 1)
                    )
                hi = sum(bit << (31 - q) for q, bit in enumerate(bits[:32]))
                lo = sum(bit << (31 - q) for q, bit in enumerate(bits[32:]))
                out_hash.append(f"{hi:08x}{lo:08x}")
                out_hi.append(hi)
                out_lo.append(lo)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].astype("int64"),
                    "dhash": out_hash,
                    "hi": pd.Series(out_hi, dtype="int64"),
                    "lo": pd.Series(out_lo, dtype="int64"),
                }
            )

    return media.mapInPandas(_hash, schema=_DHASH_SCHEMA)


def dhash_pairs(hashes: DataFrame, hamming_max: int = _HAMMING_MAX) -> DataFrame:
    """Banded near-dup candidates: equi-join on any of the 4 16-bit
    bands, then exact Hamming verify — the SimHash/LSH shape, output-
    bound (never an all-pairs product)."""
    bands = hashes.select(
        "asset_id", "hi", "lo",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("k"),
                    F.substring("dhash", k * 4 + 1, 4).alias("v"),
                )
                for k in range(4)
            ])
        ).alias("band"),
    ).select("asset_id", "hi", "lo", "band.k", "band.v")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
            F.col("a.hi").alias("hi_a"), F.col("a.lo").alias("lo_a"),
            F.col("b.hi").alias("hi_b"), F.col("b.lo").alias("lo_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        cand.select("asset_a", "asset_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= hamming_max)
    )


# --------------------------------------------------------------------------
# DuckDB oracle (same integer arithmetic over the reconstructed chain)
# --------------------------------------------------------------------------


def _o_luma(x: str, y: str) -> str:
    """Integer luma of pixel (x, y) from the 1-based hex chain."""
    pos = f"(({y}) * w + ({x})) * 3"
    return " + ".join(
        f"unicode(substr(chain, CAST({pos} + {c + 1} AS INTEGER), 1))"
        for c in range(3)
    )


def _o_bit() -> str:
    """Gradient bit b (0..63) as a CASE over resampled luma."""
    jx = f"((b % 8) * w) // {_GRID_W}"
    jx1 = f"(((b % 8) + 1) * w) // {_GRID_W}"
    iy = f"((b // 8) * h) // {_GRID_H}"
    return (
        f"CASE WHEN ({_o_luma(jx, iy)}) > ({_o_luma(jx1, iy)}) "
        f"THEN 1 ELSE 0 END"
    )


_O_CHAIN = " || ".join(
    ["sha256(text)"] + [f"sha256(text || '{s}')" for s in _CHAIN_SALTS]
)


def _o_dhash_cte(plants: bool) -> str:
    plant_leg = f"""
      UNION ALL
      SELECT doc_id + {_PLANT_OFFSET} AS asset_id,
             9 + CAST(doc_id % 6 AS INTEGER) AS w,
             8 + CAST(doc_id % 4 AS INTEGER) AS h,
             'z' || substr({_O_CHAIN}, 2) AS chain
      FROM documents WHERE doc_id % {_PLANT_EVERY} = 0
    """ if plants else ""
    return f"""
    m AS (
      SELECT doc_id AS asset_id,
             9 + CAST(doc_id % 6 AS INTEGER) AS w,
             8 + CAST(doc_id % 4 AS INTEGER) AS h,
             {_O_CHAIN} AS chain
      FROM documents
      {plant_leg}
    ),
    bits AS (
      SELECT asset_id,
             list_transform(range(0, 64), b -> {_o_bit()}) AS bt
      FROM m
    ),
    packed AS (
      -- CAST to BIGINT: list_aggregate 'sum' yields a HUGEINT that
      -- printf's %x refuses to format
      SELECT asset_id,
             CAST(list_aggregate(list_transform(range(0, 32),
               q -> CAST(bt[CAST(q + 1 AS INTEGER)] AS BIGINT) << (31 - q)),
               'sum') AS BIGINT) AS hi,
             CAST(list_aggregate(list_transform(range(0, 32),
               q -> CAST(bt[CAST(q + 33 AS INTEGER)] AS BIGINT) << (31 - q)),
               'sum') AS BIGINT) AS lo
      FROM bits
    )
    """


@query(
    "multimodal_dhash",
    oracle=f"""
    WITH {_o_dhash_cte(plants=False)}
    SELECT asset_id, printf('%08x%08x', hi, lo) AS dhash
    FROM packed
    """,
)
def multimodal_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30+: 64-bit dHash fingerprint per image — full value oracle (the
    DuckDB side reconstructs the payload bytes and recomputes every
    gradient bit), so a decoder/resample/packing regression flips the
    hash.  Map-only over payloads; only 16 hex chars shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return dhash_frame(media_base(docs)).select("asset_id", "dhash")


@query(
    "multimodal_dhash_pairs",
    oracle=f"""
    WITH {_o_dhash_cte(plants=True)},
    hx AS (
      SELECT asset_id, hi, lo, printf('%08x%08x', hi, lo) AS dhash
      FROM packed
    ),
    bands AS (
      SELECT asset_id, hi, lo, r.k AS k,
             substr(dhash, CAST(r.k * 4 + 1 AS INTEGER), 4) AS v
      FROM hx CROSS JOIN UNNEST(range(0, 4)) AS r(k)
    ),
    cand AS (
      SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b,
             a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
      FROM bands a JOIN bands b
        ON a.k = b.k AND a.v = b.v AND a.asset_id < b.asset_id
    )
    SELECT asset_a, asset_b,
           CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
                AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
          <= {_HAMMING_MAX}
    """,
)
def multimodal_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30+: banded image near-dup pairs over the planted-twin corpus —
    every 10th doc gains a one-pixel-corrupted copy; the pairs face must
    recover each twin at Hamming ≤ 2 through the untouched bands while
    random fixture images die at the Hamming verify.  Value-oracled end
    to end (bands, candidates, distances)."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = dhash_frame(media_with_plants(docs))
    return dhash_pairs(hashes).select(
        "asset_a", "asset_b", F.col("hamming").cast("long").alias("hamming")
    )
