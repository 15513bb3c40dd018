"""Multimodal columns (north-star B30+): opaque binary payloads with
typed metadata, processed via Arrow-batched mapInPandas.

Design (SURVEY §2B B30): media are rows of
  (asset_id LONG, modality STRING, payload BINARY, meta STRUCT<...>)
partitioned by modality (partition pruning per media type) and bucketed
by asset_id at scale. Decode / feature-extract / resize / frame-sample
are mapInPandas stages: one Arrow batch of payloads in, one batch of
features out — the shape that keeps 100 TB of media off the driver and
amortizes codec startup per batch rather than per row.

This container has no image codec LIBRARIES, but that gates less than
it sounds: `decode_image` natively decodes PPM (P6) / PGM (P5),
uncompressed 24/32-bit BMP, AND the FULL PNG matrix in pure Python —
PNG's IDAT stream is zlib DEFLATE, which the stdlib decompresses, so
even the compressed common case is a real decode (all five scanline
filters reconstructed; gray/RGB/gray+alpha/RGBA at 8/16-bit, palette
via PLTE at 1/2/4/8-bit index depth, sub-byte grayscale, and Adam7
interlacing — see _decode_png / encode_png), and baseline
JPEG decodes through jpeg.decode_jpeg_auto — which routes to libjpeg
(PIL) whenever that import succeeds (jpeg.has_native_jpeg) and falls
back to the pure-Python T.81 codec here, progressive SOF2 included
(jpeg_progressive.py, round 10).  GIF (full LZW, round 9) and TIFF
(PackBits/LZW strips, round 10) decode natively too.  WebP pixels are
the remaining documented NotImplementedError seam (VP8 entropy coding
genuinely needs libwebp) — in a PIL-equipped deployment the same
capability gate swallows it. `fake_decoder=True` keeps the old
deterministic stand-in for payloads that aren't images at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta_json", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("checksum", LongType()),
        StructField("mean_pixel", DoubleType()),
    ]
)


def synth_media(docs: DataFrame) -> DataFrame:
    """Fixture adapter: treat each document's utf-8 bytes as an opaque
    payload with a synthetic modality — real pipelines read
    (path, bytes) from parquet/tar shards the same way."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
        F.to_json(F.struct("lang", "source", "n_chars")).alias("meta_json"),
    )


def _decode_pnm(payload: bytes) -> tuple[int, int, bytes]:
    """PPM (P6, RGB) / PGM (P5, gray) binary decode: header tokens
    (whitespace-separated, '#' comments) then the raw pixel array."""
    tokens: list[bytes] = []
    i = 2  # past magic
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i < len(payload) and payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    i += 1  # exactly one whitespace after maxval
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    n = w * h * (3 if payload[:2] == b"P6" else 1)
    pixels = payload[i : i + n]
    if len(pixels) != n:
        raise ValueError(f"truncated PNM: want {n} pixel bytes, got {len(pixels)}")
    return w, h, bytes(pixels)


def _decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Uncompressed 24/32-bit BMP decode: BITMAPINFOHEADER fields, then
    the bottom-up, 4-byte-row-aligned BGR(A) array → RGB top-down."""
    import struct

    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
    h, bottom_up = abs(h_raw), h_raw > 0
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    rows = []
    for r in range(h):
        src = h - 1 - r if bottom_up else r
        row = payload[data_off + src * stride : data_off + src * stride + w * nch]
        if len(row) != w * nch:
            raise ValueError("truncated BMP pixel array")
        # BGR(A) → RGB
        rows.append(
            bytes(
                b
                for px in (row[c * nch : c * nch + 3] for c in range(w))
                for b in px[::-1]
            )
        )
    return w, h, b"".join(rows)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b − c, ties left → up → up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


_PNG_NCH = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples per pixel

# Adam7 pass layout (spec §8.2): (x0, y0, dx, dy) per pass.  Each pass
# is an independently-filtered sub-image; pixels scatter back on the
# (y0 + r·dy, x0 + c·dx) grid.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter_lines(
    raw: bytes, pos: int, stride: int, n_rows: int, bpp: int
) -> tuple[list[bytearray], int]:
    """Reconstruct ``n_rows`` scanlines of ``stride`` bytes from the
    filtered stream starting at ``pos`` (all five filter types, byte-
    wise with ``bpp`` = filter offset per spec §9 — max(1, bytes per
    full pixel)).  Returns (rows, new position)."""
    rows: list[bytearray] = []
    prev = bytearray(stride)
    for _r in range(n_rows):
        if pos >= len(raw):
            raise ValueError("PNG scanline data has wrong length")
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        if len(line) != stride:
            raise ValueError("PNG scanline data has wrong length")
        pos += 1 + stride
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + _paeth(a, prev[x], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        rows.append(line)
        prev = line
    return rows, pos


def _unpack_pixels(
    rows: list[bytearray], w: int, spp: int, bitd: int
) -> list[list]:
    """Per-row pixel values from packed scanlines: bytes objects of
    spp·(bitd/8) bytes at 8/16-bit, MSB-first bit-field ints at
    sub-byte depths (spp == 1 there per spec)."""
    if bitd in (8, 16):
        psz = spp * (bitd // 8)
        return [
            [bytes(row[i * psz : (i + 1) * psz]) for i in range(w)]
            for row in rows
        ]
    mask = (1 << bitd) - 1
    out: list[list] = []
    for row in rows:
        px = []
        for i in range(w):
            byte = row[(i * bitd) >> 3]
            shift = 8 - bitd - ((i * bitd) & 7)
            px.append((byte >> shift) & mask)
        out.append(px)
    return out


def _decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Pure-Python PNG decode — PNG's IDAT stream is zlib DEFLATE, which
    the stdlib decompresses, so 'compressed codec' here needs no library
    at all: chunk walk (IHDR/PLTE/IDAT+/IEND), zlib.decompress, then
    per-scanline reconstruction of all five filter types (None/Sub/Up/
    Average/Paeth).  Supports gray (0) at 1/2/4/8/16-bit, RGB (2),
    gray+alpha (4) and RGBA (6) at 8/16-bit, PALETTE (3) at 1/2/4/8-bit
    (PLTE lookup), each in both non-interlaced and Adam7-interlaced
    layout (each interlace pass unfilters as its own sub-image, then
    pixels scatter back on the pass grid — spec §8.2).  Filters
    reconstruct byte-wise with the full bytes-per-pixel offset per the
    spec (1 byte at sub-byte depths), THEN the result normalizes to the
    (w, h, 8-bit gray-or-RGB bytes) contract every downstream consumer
    shares: palette indices expand through PLTE to RGB, 16-bit samples
    keep the MSB (the lossless-view PIL `convert` also takes), sub-byte
    gray scales by 255/(2^d−1), and alpha is stripped after
    reconstruction (it still participates in filtering).  WebP — not
    any PNG variant — is the remaining documented codec seam."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    i = 8
    w = h = bitd = colort = interlace = None
    plte = b""
    idat = bytearray()
    while i + 8 <= len(payload):
        ln, typ = struct.unpack_from(">I4s", payload, i)
        data = payload[i + 8 : i + 8 + ln]
        i += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w, h, bitd, colort, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            ok = (
                (colort in (2, 4, 6) and bitd in (8, 16))
                or (colort == 0 and bitd in (1, 2, 4, 8, 16))
                or (colort == 3 and bitd in (1, 2, 4, 8))
            ) and interlace in (0, 1)
            if not ok:
                raise ValueError(
                    f"invalid PNG bit_depth={bitd} color_type={colort} "
                    f"interlace={interlace}"
                )
        elif typ == b"PLTE":
            plte = bytes(data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if colort == 3 and (not plte or len(plte) % 3):
        raise ValueError("palette PNG missing a valid PLTE chunk")
    raw = zlib.decompress(bytes(idat))
    spp = 1 if colort == 3 else _PNG_NCH[colort]
    bpp = max(1, (spp * bitd) // 8)  # filter offset (spec §9)
    if not interlace and bitd in (8, 16) and colort != 3:
        # fast path (the overwhelmingly common layout): whole-image
        # byte-slice post-processing, no per-pixel Python objects
        stride = w * bpp
        if len(raw) != (stride + 1) * h:
            raise ValueError("PNG scanline data has wrong length")
        rows, _pos = _unfilter_lines(raw, 0, stride, h, bpp)
        out = bytearray(b"".join(rows))
        if bitd == 16:  # keep each sample's MSB
            out = out[::2]
        if spp == 2:  # gray+alpha -> gray: keep even offsets
            out = out[::2]
        elif spp == 4:  # RGBA -> RGB: drop every 4th byte
            del out[3::4]
        return w, h, bytes(out)

    # generic path: palette / sub-byte / Adam7 — per-pixel scatter grid
    img: list[list] = [[None] * w for _ in range(h)]
    pos = 0
    passes = (
        [
            (x0, y0, dx, dy)
            for x0, y0, dx, dy in _ADAM7
            if (w - x0 + dx - 1) // dx > 0 and (h - y0 + dy - 1) // dy > 0
        ]
        if interlace
        else [(0, 0, 1, 1)]
    )
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        stride = (pw * spp * bitd + 7) // 8
        rows, pos = _unfilter_lines(raw, pos, stride, ph, bpp)
        pix = _unpack_pixels(rows, pw, spp, bitd)
        for r in range(ph):
            trow = img[y0 + r * dy]
            for c in range(pw):
                trow[x0 + c * dx] = pix[r][c]
    if pos != len(raw):
        raise ValueError("PNG scanline data has wrong length")
    out = bytearray()
    n_plte = len(plte) // 3
    for row in img:
        for px in row:
            if colort == 3:
                idx = px[0] if isinstance(px, bytes) else px
                if idx >= n_plte:
                    # a short slice would silently return a pixel
                    # buffer shorter than w·h·3, breaking the length
                    # contract downstream (round-8 advice) — malformed
                    # palettes must fail loudly into the quarantine path
                    raise ValueError(
                        f"PNG palette index {idx} out of range "
                        f"(PLTE has {n_plte} entries)"
                    )
                out += plte[3 * idx : 3 * idx + 3]
            elif bitd < 8:  # sub-byte gray: exact integer rescale
                out.append(px * 255 // ((1 << bitd) - 1))
            else:
                b = px[::2] if bitd == 16 else px
                out += b[:1] if colort in (0, 4) else b[:3]
    return w, h, bytes(out)


def _filter_line(
    line: bytearray, prev: bytearray, bpp: int, ftype: int
) -> bytearray:
    """Apply PNG filter ``ftype`` to one packed scanline (encode side —
    the inverse of _unfilter_lines' reconstruction)."""
    stride = len(line)
    if ftype == 0:
        return line
    enc = bytearray(stride)
    if ftype == 1:
        for x in range(stride):
            left = line[x - bpp] if x >= bpp else 0
            enc[x] = (line[x] - left) & 0xFF
    elif ftype == 2:
        for x in range(stride):
            enc[x] = (line[x] - prev[x]) & 0xFF
    elif ftype == 3:
        for x in range(stride):
            left = line[x - bpp] if x >= bpp else 0
            enc[x] = (line[x] - ((left + prev[x]) >> 1)) & 0xFF
    else:
        for x in range(stride):
            a = line[x - bpp] if x >= bpp else 0
            c = prev[x - bpp] if x >= bpp else 0
            enc[x] = (line[x] - _paeth(a, prev[x], c)) & 0xFF
    return enc


def _pack_bits(values: list[int], bitd: int) -> bytearray:
    """Pack sub-byte samples MSB-first into a scanline (spec §7.2)."""
    buf = bytearray((len(values) * bitd + 7) // 8)
    mask = (1 << bitd) - 1
    for i, v in enumerate(values):
        shift = 8 - bitd - ((i * bitd) & 7)
        buf[(i * bitd) >> 3] |= (v & mask) << shift
    return buf


def encode_png(
    w: int, h: int, pixels: bytes, color_type: int = 2,
    bit_depth: int = 8, palette: bytes | None = None, interlace: int = 0,
) -> bytes:
    """Pure-Python PNG writer (the fixture's compressed-payload
    generator): per-scanline filter type cycles r % 5 (globally across
    interlace passes), so any image with ≥ 5 scanlines exercises ALL
    five filters on the decode side; IDAT is stdlib zlib at level 6
    with standard CRC-32 chunk framing.  ``color_type``: 0 gray, 2 RGB,
    3 palette (``pixels`` are index bytes, one per pixel, with the RGB
    ``palette`` emitted as a PLTE chunk), 4 gray+alpha, 6 RGBA;
    ``bit_depth`` 8/16 for the sample types (16-bit samples are
    big-endian byte pairs in ``pixels``), 1/2/4/8 for palette and gray;
    ``interlace=1`` writes Adam7 (each pass packed + filtered as its
    own sub-image, spec §8.2)."""
    import struct
    import zlib

    ok = (
        (color_type in (2, 4, 6) and bit_depth in (8, 16))
        or (color_type == 0 and bit_depth in (1, 2, 4, 8, 16))
        or (color_type == 3 and bit_depth in (1, 2, 4, 8))
    )
    if not ok or interlace not in (0, 1):
        raise ValueError(
            f"encode_png: bit_depth={bit_depth} color_type={color_type} "
            f"interlace={interlace}"
        )
    if color_type == 3 and (
        palette is None or len(palette) % 3 or len(palette) > 768
    ):
        raise ValueError("encode_png: palette PNG needs a 3n-byte PLTE")
    spp = 1 if color_type == 3 else _PNG_NCH[color_type]
    # pixels arrive UNPACKED: one byte per sample value (sub-byte
    # depths included — packing happens here), spp·ceil(bitd/8)·w·h
    vpp = spp * (2 if bit_depth == 16 else 1)  # value-bytes per pixel
    if len(pixels) != w * h * vpp:
        raise ValueError(
            f"want {w * h * vpp} pixel bytes, got {len(pixels)}"
        )
    bpp = max(1, (spp * bit_depth) // 8)  # filter offset
    passes = (
        [
            (x0, y0, dx, dy)
            for x0, y0, dx, dy in _ADAM7
            if (w - x0 + dx - 1) // dx > 0 and (h - y0 + dy - 1) // dy > 0
        ]
        if interlace
        else [(0, 0, 1, 1)]
    )
    raw = bytearray()
    scanline_no = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        prev = bytearray((pw * spp * bit_depth + 7) // 8)
        for r in range(ph):
            src_y = y0 + r * dy
            if bit_depth < 8:
                vals = [
                    pixels[src_y * w + x0 + c * dx] for c in range(pw)
                ]
                line = _pack_bits(vals, bit_depth)
            else:
                line = bytearray()
                for c in range(pw):
                    off = (src_y * w + x0 + c * dx) * vpp
                    line += pixels[off : off + vpp]
            ftype = scanline_no % 5
            scanline_no += 1
            raw.append(ftype)
            raw += _filter_line(line, prev, bpp, ftype)
            prev = line

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace
    )
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += chunk(b"PLTE", palette)
    return out + chunk(b"IDAT", zlib.compress(bytes(raw), 6)) + chunk(
        b"IEND", b""
    )


def decode_pixels(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, RGB-or-gray pixel bytes) for the formats decodable
    without a codec library: PPM/PGM, uncompressed BMP, the full PNG
    matrix — gray/RGB/alpha at 8/16-bit, palette at 1/2/4/8-bit,
    sub-byte gray, Adam7 (IDAT is stdlib zlib — see _decode_png) —
    plus baseline + progressive JPEG. WebP remains the documented production
    seam — swap this fallback for PIL/opencv there."""
    if payload[:2] in (b"P6", b"P5"):
        return _decode_pnm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        # capability-gated: libjpeg (PIL) when importable, pure-Python
        # baseline codec otherwise — see jpeg.decode_jpeg_auto
        from vector_ai_npm_spark.multimodal.jpeg import decode_jpeg_auto

        return decode_jpeg_auto(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        # pure-Python LZW codec — no library gate needed (see gif.py)
        from vector_ai_npm_spark.multimodal.gif import decode_gif

        return decode_gif(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        # pure-Python PackBits/LZW/none, grayscale 8-bit strips; the
        # JPEG-in-TIFF variant raises ValueError → quarantine (tiff.py)
        from vector_ai_npm_spark.multimodal.tiff import decode_tiff

        return decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # capability-gated: libwebp (PIL) when importable; otherwise a
        # reasoned NotImplementedError AFTER validating the container —
        # dims/variant metadata stays available via webp.webp_dims
        from vector_ai_npm_spark.multimodal.webp import decode_webp_auto

        return decode_webp_auto(payload)
    raise NotImplementedError(
        "image codecs beyond PPM/PGM/BMP, PNG (gray/RGB/alpha/palette, "
        "sub-byte depths, Adam7), baseline JPEG (SOF0 4:4:4), and "
        "WebP (libwebp-gated; header metadata always available) require "
        "a codec library not present in this environment; or use "
        "fake_decoder=True for the deterministic stand-in"
    )


def decode_image(payload: bytes) -> tuple[int, int]:
    """(width, height) via the native pure-Python decode."""
    w, h, _ = decode_pixels(payload)
    return w, h


def hex_chain(*salts: str) -> Column:
    """``sha2(text) || sha2(text || salts[0]) || …`` over the documents'
    ``text``: 64 hex chars per block, the deterministic pixel/sample
    byte source of the synth payloads and the decode faces.  The chars
    are ASCII (one byte each) and DuckDB rebuilds the same chain with
    ``sha256`` + ``unicode()``, which is what lets those faces carry
    value oracles."""
    return F.concat(
        F.sha2(F.col("text"), 256),
        *(F.sha2(F.concat(F.col("text"), F.lit(s)), 256) for s in salts),
    )


def synth_ppm_media(docs: DataFrame) -> DataFrame:
    """Fixture adapter for the REAL decode path: a genuine binary P6 PPM
    per document, built entirely JVM-side. Dims vary per doc
    (w = 4 + doc_id % 5, h = 4 + doc_id % 3); pixel bytes are the first
    w·h·3 chars of a sha2 hex chain over the text — deterministic, ASCII
    (1 byte/char), and reproducible in DuckDB (sha256 + unicode), which
    is what lets the decode query carry a value oracle.

    The frame is spread to executor parallelism before it returns: the
    Python decoders downstream are CPU-bound per ROW while the payload
    is a bounded ~200 B of derived bytes per row (never the corpus
    text), so the exchange stays metadata-sized at any corpus size —
    without it, a byte-sized input split serializes the whole decode
    onto one core (r13: measured 8.8 s -> 1.0 s on the webp face)."""
    w = (F.lit(4) + F.col("doc_id") % 5).cast("int")
    h = (F.lit(4) + F.col("doc_id") % 3).cast("int")
    chain = hex_chain("a", "b")
    header = F.format_string("P6\n%d %d\n255\n", w, h)
    body = F.substring(chain, F.lit(1), w * h * 3)
    out = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.encode(F.concat(header, body), "utf-8").alias("payload"),
        F.to_json(F.struct("lang", "source", "n_chars")).alias("meta_json"),
    )
    from vector_ai_npm_spark.io.sources import scale_partitions

    return scale_partitions(out, out.sparkSession)


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in: derive fake dims from the payload bytes."""
    if not payload:
        return (0, 0)
    return (64 + payload[0] % 64, 64 + payload[-1] % 64)


def extract_features(media: DataFrame, fake_decoder: bool = False) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow moves each partition through Python in batches; per-batch we'd
    initialize a codec once (the expensive part at scale) and stream
    rows through it.
    """
    if fake_decoder:
        # stand-in for non-image payloads: fake dims, mean over raw bytes
        def decode(b: bytes) -> tuple[int, int, bytes]:
            w, h = _fake_decode(b)
            return w, h, b

    else:
        decode = decode_pixels

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            decoded = pdf["payload"].map(lambda b: decode(bytes(b)))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "width": decoded.map(lambda d: d[0]).astype("int64"),
                    "height": decoded.map(lambda d: d[1]).astype("int64"),
                    "checksum": pdf["payload"]
                    .map(lambda b: zlib.crc32(bytes(b)))
                    .astype("int64"),
                    "mean_pixel": decoded.map(
                        lambda d: (sum(d[2]) / len(d[2])) if d[2] else 0.0
                    ).astype("float64"),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 32,
                 max_frames: int = 8) -> DataFrame:
    """'Frame sampling' plumbing demo: slice evenly-spaced windows out of
    each payload (stand-in for video frame extraction) — JVM-side
    byte-slicing via substring on binary, exploded to one row per frame."""
    idx = F.sequence(
        F.lit(0),
        F.least(
            F.lit(max_frames - 1),
            (F.length("payload") / every_n_bytes).cast("int"),
        ),
    )
    return media.select(
        "asset_id",
        "modality",
        F.posexplode(idx).alias("frame_no", "i"),
    ).select(
        "asset_id",
        "modality",
        F.col("frame_no").cast("long").alias("frame_no"),
        (F.col("i") * every_n_bytes).cast("long").alias("byte_offset"),
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
        StructField("mean_resized", DoubleType()),
        StructField("payload_out", BinaryType()),
    ]
)


def resize_images(media: DataFrame, out_w: int = 2, out_h: int = 2) -> DataFrame:
    """Nearest-neighbor image resize over binary payloads — the third
    leg of the north-star multimodal quartet (decode / features /
    RESIZE / frame-sample). Deterministic NN index map
    (src = floor(dst · src_dim / dst_dim), the classic integer
    subsample) so the result is bit-reproducible and SQL-mirrorable;
    output is re-encoded as P6 so the stage composes with decode.

    Scale shape: one Arrow-batched mapInPandas pass; per-row state is
    one image; the payload column never leaves the JVM except through
    Arrow batches. A production codec (JPEG/PNG, interpolating kernels)
    slots in behind the same schema — the documented seam."""
    import numpy as np

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, b in zip(pdf["asset_id"], pdf["payload"]):
                w, h, pix = decode_pixels(bytes(b))
                nch = len(pix) // (w * h)
                arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, nch)
                ri = (np.arange(out_h) * h) // out_h
                ci = (np.arange(out_w) * w) // out_w
                res = arr[ri][:, ci, :]
                mean = float(res.astype(np.int64).sum()) / res.size
                header = f"P6\n{out_w} {out_h}\n255\n".encode()
                rows.append((int(aid), out_w, out_h, mean,
                             header + res.tobytes()))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "out_w", "out_h", "mean_resized",
                         "payload_out"],
            )

    return media.mapInPandas(_resize, schema=RESIZE_SCHEMA)


def synth_pcm_media(docs: DataFrame) -> DataFrame:
    """Fixture adapter for the AUDIO decode path: a deterministic 96-byte
    8-bit PCM clip per document — the bytes are the first 96 chars of
    the same sha2 hex chain the PPM synth uses, so ASCII (1 byte/char)
    and bit-reproducible in DuckDB (sha256 + unicode), which is what
    lets the frame-energy query carry a value oracle."""
    chain = hex_chain("a", "b")
    out = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("audio").alias("modality"),
        F.encode(F.substring(chain, 1, 96), "utf-8").alias("payload"),
        F.to_json(F.struct("lang", "source", "n_chars")).alias("meta_json"),
    )
    from vector_ai_npm_spark.io.sources import scale_partitions

    # spread like synth_ppm_media: 96 B/row derived payload, CPU-bound
    # Python decode downstream
    return scale_partitions(out, out.sparkSession)


def audio_frame_energy(media: DataFrame, frame_len: int = 16) -> DataFrame:
    """Per-frame RMS energy over 8-bit PCM payloads — the audio
    feature-extraction shape (VAD / silence trimming / loudness
    normalization all start here).

    The decode is a REAL byte decode (numpy frombuffer on the Arrow
    batch — at scale this is where a codec like libsndfile would sit),
    run via mapInPandas exactly like the image path: Arrow moves whole
    partitions through Python in batches, never a per-row UDF. Frame
    math stays in numpy (vectorized across every frame of the batch);
    the final 6-decimal rounding is applied JVM-side so both engines
    round identically (HALF_UP)."""
    import numpy as np

    def _energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_frame, out_n, out_rms = [], [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                v = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.float64
                )
                n_frames = len(v) // frame_len
                frames = v[: n_frames * frame_len].reshape(n_frames, frame_len)
                rms = np.sqrt((frames * frames).mean(axis=1))
                out_id.extend([aid] * n_frames)
                out_frame.extend(range(n_frames))
                out_n.extend([frame_len] * n_frames)
                out_rms.extend(rms.tolist())
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(out_id, dtype="int64"),
                    "frame_id": pd.Series(out_frame, dtype="int64"),
                    "n_samples": pd.Series(out_n, dtype="int64"),
                    "rms": pd.Series(out_rms, dtype="float64"),
                }
            )

    return media.mapInPandas(
        _energy,
        schema="asset_id long, frame_id long, n_samples long, rms double",
    )


def synth_video_media(docs: DataFrame) -> DataFrame:
    """Fixture adapter for the VIDEO path: 8 consecutive 12-byte
    "frames" per document from the sha2 hex chain (96 ASCII bytes
    total) — the N-frames-in-one-payload layout real video shards use,
    reproducible in DuckDB for value oracles."""
    chain = hex_chain("a", "b")
    out = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("modality"),
        F.encode(F.substring(chain, 1, 96), "utf-8").alias("payload"),
        F.to_json(F.struct("lang", "source", "n_chars")).alias("meta_json"),
    )
    from vector_ai_npm_spark.io.sources import scale_partitions

    # spread like synth_ppm_media: 96 B/row derived payload, CPU-bound
    # Python decode downstream
    return scale_partitions(out, out.sparkSession)


def scene_changes(media: DataFrame, frame_bytes: int = 12,
                  threshold: float = 20.0) -> DataFrame:
    """Scene-change detection: mean absolute byte difference between
    consecutive frames, flagged when it exceeds ``threshold`` — the
    shot-boundary primitive every video-curation pipeline runs before
    frame sampling (sample per SCENE, not per second).

    Same execution shape as the audio path: numpy decodes the Arrow
    batch's payload bytes (the ffmpeg seam), the frame-pair deltas are
    vectorized across the whole batch, and only (asset, frame, score,
    flag) rows leave Python — payload bytes never shuffle."""
    import numpy as np

    def _scenes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_frame, out_delta = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                v = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.float64
                )
                n_frames = len(v) // frame_bytes
                frames = v[: n_frames * frame_bytes].reshape(
                    n_frames, frame_bytes
                )
                deltas = np.abs(frames[1:] - frames[:-1]).mean(axis=1)
                out_id.extend([aid] * (n_frames - 1))
                out_frame.extend(range(1, n_frames))
                out_delta.extend(deltas.tolist())
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(out_id, dtype="int64"),
                    "frame_id": pd.Series(out_frame, dtype="int64"),
                    "mean_abs_delta": pd.Series(out_delta, dtype="float64"),
                }
            )

    scored = media.mapInPandas(
        _scenes,
        schema="asset_id long, frame_id long, mean_abs_delta double",
    )
    return scored.select(
        "asset_id",
        "frame_id",
        F.round(F.col("mean_abs_delta"), 6).alias("mean_abs_delta"),
        (F.col("mean_abs_delta") > threshold).alias("is_scene_change"),
    )
