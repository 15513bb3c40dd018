"""B30 decode invariants: the pure-Python PPM/PGM/BMP decoders must
round-trip hand-built images exactly (dims, pixel bytes, stats), and the
Spark-side synth → mapInPandas decode path must agree with a local
re-computation."""

from __future__ import annotations

import struct

import pytest

from vector_ai_npm_spark.multimodal.binary import (
    decode_image,
    decode_pixels,
)


def _ppm(w: int, h: int, pixels: bytes, comment: bool = False) -> bytes:
    head = b"P6\n"
    if comment:
        head += b"# a comment line\n"
    return head + f"{w} {h}\n255\n".encode() + pixels


def _bmp24(w: int, h: int, rgb_rows: list[bytes]) -> bytes:
    """Minimal uncompressed 24-bit BMP: rows given TOP-DOWN in RGB,
    stored bottom-up in BGR with 4-byte row padding."""
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)
    body = b""
    for row in reversed(rgb_rows):  # bottom-up
        bgr = b"".join(row[i : i + 3][::-1] for i in range(0, w * 3, 3))
        body += bgr + pad
    data_off = 14 + 40
    header = (
        b"BM"
        + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    )
    return header + body


def test_ppm_decode_roundtrip():
    pixels = bytes(range(2 * 3 * 3))  # 2x3 RGB
    w, h, got = decode_pixels(_ppm(2, 3, pixels))
    assert (w, h) == (2, 3)
    assert got == pixels
    assert decode_image(_ppm(2, 3, pixels)) == (2, 3)
    # header comments must be skipped
    assert decode_pixels(_ppm(2, 3, pixels, comment=True))[2] == pixels


def test_pgm_decode_roundtrip():
    pixels = bytes([10, 20, 30, 40, 50, 60])  # 3x2 gray
    w, h, got = decode_pixels(b"P5\n3 2\n255\n" + pixels)
    assert (w, h, got) == (3, 2, pixels)


def test_bmp_decode_unpads_and_flips():
    # 3x2 RGB, distinct bytes so stride/flip errors are visible
    top = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9])
    bot = bytes([11, 12, 13, 14, 15, 16, 17, 18, 19])
    w, h, got = decode_pixels(_bmp24(3, 2, [top, bot]))
    assert (w, h) == (3, 2)
    assert got == top + bot  # returned top-down, RGB, no padding


def test_pixel_stats_invariant():
    """mean over decoded pixels must equal the constructed ground truth
    for BOTH formats encoding the same image."""
    rows = [bytes([0, 128, 255, 1, 2, 3]), bytes([10, 20, 30, 40, 50, 60])]
    pixels = b"".join(rows)
    want_mean = sum(pixels) / len(pixels)
    for payload in (_ppm(2, 2, pixels), _bmp24(2, 2, rows)):
        w, h, got = decode_pixels(payload)
        assert (w, h) == (2, 2)
        assert sum(got) / len(got) == pytest.approx(want_mean, abs=0)


def test_truncated_and_unsupported_payloads():
    with pytest.raises(ValueError):
        decode_pixels(b"P6\n4 4\n255\nshort")
    with pytest.raises(ValueError):
        decode_pixels(b"\x89PNG\r\n\x1a\n....")  # PNG decodes now; garbage raises
    with pytest.raises(ValueError):
        decode_pixels(b"\xff\xd8\xff\xe0JFIF....")  # JPEG decodes now; garbage raises
    # WebP/GIF route to real parsers now (waves 32/36): malformed
    # containers raise ValueError (the quarantine signal); a VALID
    # WebP raises NotImplementedError only when libwebp is absent
    with pytest.raises(ValueError):
        decode_pixels(b"RIFF\x00\x00\x00\x00WEBP")  # no image chunk
    with pytest.raises(ValueError):
        decode_pixels(b"GIF89a......")  # truncated/garbage container
    from vector_ai_npm_spark.multimodal.webp import (
        encode_webp_header,
        has_native_webp,
    )

    # since wave 49 VP8L decodes natively: a header-only VP8L stream is
    # MALFORMED (truncated bitstream → ValueError quarantine); the
    # libwebp capability seam is exactly the lossy VP8 variant
    with pytest.raises(ValueError):
        decode_pixels(encode_webp_header(4, 4, "vp8l"))
    if not has_native_webp():
        with pytest.raises(NotImplementedError):
            decode_pixels(encode_webp_header(4, 4, "vp8"))


def test_spark_decode_matches_local(spark, sf_smoke):
    """The full Spark path (synth_ppm_media → mapInPandas decode) must
    equal a driver-side re-decode of the same payloads."""
    from vector_ai_npm_spark import registry

    out = {
        r.asset_id: (r.width, r.height, r.n_bytes, r.mean_pixel)
        for r in registry.run("multimodal_decode", spark, sf_smoke).collect()
    }
    from vector_ai_npm_spark.io.sources import load_table
    from vector_ai_npm_spark.multimodal.binary import synth_ppm_media

    media = synth_ppm_media(load_table(spark, sf_smoke, "documents"))
    for r in media.collect():
        payload = bytes(r.payload)
        w, h, px = decode_pixels(payload)
        want = (w, h, len(payload), round(sum(px) / len(px), 6))
        assert out[r.asset_id] == want, r.asset_id


def test_decoder_roundtrip_property():
    """Property: for random dims/pixels, encode→decode is the identity
    for both PPM and BMP (stride padding, bottom-up flip, BGR swap)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=9),
        h=st.integers(min_value=1, max_value=9),
        data=st.data(),
    )
    def check(w, h, data):
        pixels = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * 3,
                    max_size=w * h * 3,
                )
            )
        )
        assert decode_pixels(_ppm(w, h, pixels)) == (w, h, pixels)
        rows = [pixels[r * w * 3 : (r + 1) * w * 3] for r in range(h)]
        assert decode_pixels(_bmp24(w, h, rows)) == (w, h, pixels)

    check()


def test_resize_output_recomposes_with_decoder(spark, sf_smoke):
    """Resized P6 payloads must round-trip through the SAME decode
    stage (stage composability): extract_features over resize_images
    output reports 2x2 dims and the identical mean pixel."""
    from pyspark.sql import functions as F

    from vector_ai_npm_spark.io.sources import load_table
    from vector_ai_npm_spark.multimodal.binary import (
        extract_features,
        resize_images,
        synth_ppm_media,
    )

    media = synth_ppm_media(load_table(spark, sf_smoke, "documents"))
    resized = resize_images(media, out_w=2, out_h=2)
    feats = extract_features(
        resized.select(
            "asset_id",
            F.lit("image").alias("modality"),
            F.col("payload_out").alias("payload"),
            F.lit("{}").alias("meta_json"),
        ),
        fake_decoder=False,
    )
    joined = feats.join(
        resized.select("asset_id", "mean_resized"), "asset_id"
    ).select(
        "width", "height",
        (F.abs(F.col("mean_pixel") - F.col("mean_resized")) < 1e-9).alias("ok"),
    )
    rows = joined.collect()
    assert rows and all(r.width == 2 and r.height == 2 and r.ok for r in rows)


def test_png_codec_roundtrip_all_filters():
    """Pure-Python PNG codec: encode→decode must be identity for RGB and
    grayscale across sizes that exercise every scanline filter (the
    writer cycles filter r % 5), including stride edge cases (w=1) and
    adversarial pixel patterns; unsupported variants raise the
    documented NotImplementedError, and corrupt filter bytes raise."""
    import random
    import struct
    import zlib

    import pytest

    from vector_ai_npm_spark.multimodal.binary import (
        _PNG_SIG,
        decode_pixels,
        encode_png,
    )

    rng = random.Random(7)
    for color_type, nch in ((2, 3), (0, 1)):
        for w, h in ((1, 7), (5, 5), (8, 6), (3, 11), (16, 2)):
            for pattern in ("random", "ramp", "const"):
                if pattern == "random":
                    pix = bytes(rng.randrange(256) for _ in range(w * h * nch))
                elif pattern == "ramp":
                    pix = bytes((i * 7) % 256 for i in range(w * h * nch))
                else:
                    pix = bytes([200]) * (w * h * nch)
                png = encode_png(w, h, pix, color_type=color_type)
                assert png[:8] == _PNG_SIG
                dw, dh, dec = decode_pixels(png)
                assert (dw, dh, dec) == (w, h, pix), (color_type, w, h, pattern)

    # a palette PNG with no PLTE chunk must refuse, not silently garble
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    bad = _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="PLTE"):
        decode_pixels(bad)

    # corrupt filter byte must raise, not produce junk pixels
    good = encode_png(3, 3, bytes(27))
    raw = bytearray(zlib.decompress(
        good[8 + 8 + 13 + 4 + 8:-(4 + 12)]  # IDAT data slice
    ))
    raw[0] = 9
    idat = zlib.compress(bytes(raw), 6)
    corrupt = (_PNG_SIG
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 3, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", idat) + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_pixels(corrupt)


def test_png_palette_roundtrip_all_depths():
    """Palette (color type 3) decode at 1/2/4/8-bit index depths, both
    non-interlaced and Adam7: decoded RGB must equal the palette
    expansion of the index image byte-for-byte (sub-byte packing,
    per-pass filtering, PLTE lookup all on the line)."""
    import random

    from vector_ai_npm_spark.multimodal.binary import (
        decode_pixels,
        encode_png,
    )

    rng = random.Random(13)
    for depth in (1, 2, 4, 8):
        n_colors = min(256, 1 << depth)
        palette = bytes(rng.randrange(256) for _ in range(n_colors * 3))
        for w, h in ((1, 7), (5, 5), (9, 10), (16, 3)):
            idx = bytes(rng.randrange(n_colors) for _ in range(w * h))
            want = b"".join(
                palette[3 * i : 3 * i + 3] for i in idx
            )
            for interlace in (0, 1):
                png = encode_png(
                    w, h, idx, color_type=3, bit_depth=depth,
                    palette=palette, interlace=interlace,
                )
                assert decode_pixels(png) == (w, h, want), (
                    depth, w, h, interlace,
                )


def test_png_palette_index_out_of_range_raises():
    """A palette PNG whose index exceeds the PLTE size must raise, not
    silently return a pixel buffer shorter than w·h·3 (the short-slice
    failure the length contract forbids — round-8 advice).  Build a
    valid 8-bit palette PNG with a 2-entry PLTE, then reference index
    3."""
    from vector_ai_npm_spark.multimodal.binary import (
        decode_pixels,
        encode_png,
    )

    palette = bytes(range(12))  # 4 entries
    png = encode_png(
        2, 2, bytes([0, 1, 2, 3]), color_type=3, bit_depth=8,
        palette=palette,
    )
    # valid baseline decodes fine
    assert decode_pixels(png)[2] == palette
    # truncate the PLTE to 2 entries (6 bytes) in-place: rebuild the
    # chunk with a fresh length + CRC so only the palette SIZE is bad
    import struct as _struct
    import zlib as _zlib

    i = png.index(b"PLTE") - 4
    ln = _struct.unpack(">I", png[i : i + 4])[0]
    short = palette[:6]
    new_chunk = (
        _struct.pack(">I", len(short)) + b"PLTE" + short
        + _struct.pack(">I", _zlib.crc32(b"PLTE" + short) & 0xFFFFFFFF)
    )
    bad = png[:i] + new_chunk + png[i + 12 + ln :]
    with pytest.raises(ValueError, match="palette index"):
        decode_pixels(bad)


def test_png_adam7_roundtrip_rgb_gray():
    """Adam7 interlacing for the sample color types: encode(interlace=1)
    → decode must be identity for 8-bit RGB/gray and strip-to-MSB for
    16-bit, across sizes that hit degenerate passes (w or h < 8)."""
    import random

    from vector_ai_npm_spark.multimodal.binary import (
        decode_pixels,
        encode_png,
    )

    rng = random.Random(17)
    for color_type, nch in ((2, 3), (0, 1)):
        for w, h in ((1, 1), (2, 3), (7, 7), (8, 8), (13, 9), (16, 5)):
            pix = bytes(rng.randrange(256) for _ in range(w * h * nch))
            png = encode_png(w, h, pix, color_type=color_type, interlace=1)
            assert decode_pixels(png) == (w, h, pix), (color_type, w, h)
    # 16-bit interlaced: decode keeps each sample's MSB
    w, h = 6, 7
    pix16 = bytes(rng.randrange(256) for _ in range(w * h * 3 * 2))
    png = encode_png(w, h, pix16, color_type=2, bit_depth=16, interlace=1)
    assert decode_pixels(png) == (w, h, pix16[::2])


def test_png_subbyte_gray_scales_exactly():
    """Sub-byte grayscale decodes by the exact 255/(2^d−1) rescale."""
    from vector_ai_npm_spark.multimodal.binary import (
        decode_pixels,
        encode_png,
    )

    for depth in (1, 2, 4):
        levels = (1 << depth) - 1
        vals = bytes(v % (levels + 1) for v in range(23))
        png = encode_png(23, 1, vals, color_type=0, bit_depth=depth)
        want = bytes(v * 255 // levels for v in vals)
        assert decode_pixels(png) == (23, 1, want), depth


def test_jpeg_codec_roundtrip_bounded_error():
    """Baseline JPEG codec: dims exact, reconstruction error bounded
    (lossy, so no byte equality), grayscale + RGB, sizes exercising
    edge padding; unsupported variants refuse loudly."""
    import random
    import struct

    import numpy as np
    import pytest

    from vector_ai_npm_spark.multimodal.binary import decode_pixels
    from vector_ai_npm_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = random.Random(11)

    def mae(a, b):
        x = np.frombuffer(a, dtype=np.uint8).astype(int)
        y = np.frombuffer(b, dtype=np.uint8).astype(int)
        return float(np.abs(x - y).mean())

    # smooth gradients: near-transparent at q90
    for w, h in ((16, 16), (13, 9), (5, 7), (32, 24)):
        pix = bytes(
            (x * 255) // max(1, w - 1) if c == 0
            else (y * 255) // max(1, h - 1) if c == 1 else 128
            for y in range(h) for x in range(w) for c in range(3)
        )
        dw, dh, dec = decode_pixels(encode_jpeg(w, h, pix, quality=90))
        assert (dw, dh) == (w, h)
        assert mae(pix, dec) < 4.0, (w, h)

    # random noise (worst case) still bounded at q95
    pix = bytes(rng.randrange(256) for _ in range(16 * 16 * 3))
    dw, dh, dec = decode_jpeg(encode_jpeg(16, 16, pix, quality=95))
    assert (dw, dh) == (16, 16) and mae(pix, dec) < 8.0

    # grayscale
    gpix = bytes((x * 7 + y * 3) % 256 for y in range(20) for x in range(15))
    dw, dh, dec = decode_jpeg(encode_jpeg(15, 20, gpix, color=False))
    assert (dw, dh) == (15, 20) and len(dec) == 300 and mae(gpix, dec) < 2.0

    # quality monotonicity: lower quality -> no better error, fewer bytes
    pix = bytes(rng.randrange(256) for _ in range(24 * 16 * 3))
    hi = encode_jpeg(24, 16, pix, quality=95)
    lo = encode_jpeg(24, 16, pix, quality=30)
    assert len(lo) < len(hi)
    assert mae(pix, decode_jpeg(lo)[2]) > mae(pix, decode_jpeg(hi)[2])

    # SOF2 now routes to the progressive decoder (wave 47); a baseline
    # stream whose SOF marker is FORGED to SOF2 is malformed progressive
    # (interleaved full-band scan) and must refuse loudly…
    sof2 = bytearray(encode_jpeg(8, 8, bytes(192)))
    idx = bytes(sof2).find(b"\xff\xc0")
    sof2[idx + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg(bytes(sof2))
    # …while a genuine progressive stream decodes through the same entry
    from vector_ai_npm_spark.multimodal.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    gpx = bytes((x * 5 + y) % 256 for y in range(10) for x in range(9))
    assert decode_jpeg(
        encode_jpeg_progressive(9, 10, gpx, color=False)
    ) == decode_jpeg(encode_jpeg(9, 10, gpx, color=False))

    # truncated entropy stream must raise, not loop
    full = encode_jpeg(16, 16, bytes(768))
    with pytest.raises(Exception):
        decode_jpeg(full[: len(full) // 2])

    # decode_pixels routes JPEG by SOI magic
    dw, dh, _ = decode_pixels(encode_jpeg(6, 5, bytes(90), quality=90))
    assert (dw, dh) == (6, 5)


def test_jpeg_native_route_capability_gate(monkeypatch):
    """The libjpeg route (jpeg.decode_jpeg_auto) is capability-gated:
    without PIL it falls back to the pure-Python codec bit-identically;
    with PIL importable it must route through PIL and normalize exotic
    modes to RGB.  PIL is absent in this container, so the native leg
    runs against an injected stub that honors the PIL.Image surface
    (open/mode/size/convert/tobytes)."""
    import sys
    import types

    import pytest

    from vector_ai_npm_spark.multimodal import jpeg as J

    # --- fallback leg: no PIL → auto == pure-Python, gate False
    monkeypatch.setattr(J, "_PIL_IMAGE", None)
    monkeypatch.setitem(sys.modules, "PIL", None)  # force ImportError
    assert J.has_native_jpeg() is False
    payload = J.encode_jpeg(6, 5, bytes(range(90)), quality=90)
    assert J.decode_jpeg_auto(payload) == J.decode_jpeg(payload)
    with pytest.raises(RuntimeError):
        J.decode_jpeg_native(payload)

    # --- native leg: stub PIL → auto must route through it
    class _StubImg:
        mode = "CMYK"  # exotic mode: must be converted to RGB

        def __init__(self):
            self.size = (6, 5)
            self.converted = None

        def convert(self, mode):
            self.converted = mode
            self.mode = mode
            return self

        def tobytes(self):
            assert self.mode == "RGB"
            return b"\x01" * (6 * 5 * 3)

    stub_image_mod = types.SimpleNamespace(
        open=lambda fp: _StubImg()
    )
    pil_pkg = types.ModuleType("PIL")
    pil_pkg.Image = stub_image_mod
    monkeypatch.setitem(sys.modules, "PIL", pil_pkg)
    monkeypatch.setitem(sys.modules, "PIL.Image", stub_image_mod)
    monkeypatch.setattr(J, "_PIL_IMAGE", None)  # re-probe
    assert J.has_native_jpeg() is True
    w, h, pix = J.decode_jpeg_auto(payload)
    assert (w, h) == (6, 5)
    assert pix == b"\x01" * 90  # proves the stub (native route) ran
    # decode_pixels dispatch must ride the same gate
    from vector_ai_npm_spark.multimodal.binary import decode_pixels

    assert decode_pixels(payload)[2] == b"\x01" * 90
    # restore the real probe state for later tests
    monkeypatch.setattr(J, "_PIL_IMAGE", None)


def test_png_16bit_and_alpha_roundtrip():
    """Round-7 seam extension: 16-bit and alpha PNGs decode through the
    byte-wise filters at full bytes-per-pixel offset, then normalize to
    the 8-bit gray/RGB contract (MSB per 16-bit sample, alpha stripped
    after reconstruction)."""
    import random
    import struct

    from vector_ai_npm_spark.multimodal.binary import (
        decode_pixels,
        encode_png,
    )

    rng = random.Random(11)

    # RGBA: alpha participates in filtering, stripped in the output
    w, h = 7, 6
    rgba = bytes(rng.randrange(256) for _ in range(w * h * 4))
    dw, dh, dec = decode_pixels(encode_png(w, h, rgba, color_type=6))
    want = b"".join(rgba[i : i + 3] for i in range(0, len(rgba), 4))
    assert (dw, dh, dec) == (w, h, want)

    # gray+alpha
    ga = bytes(rng.randrange(256) for _ in range(w * h * 2))
    dw, dh, dec = decode_pixels(encode_png(w, h, ga, color_type=4))
    assert (dw, dh, dec) == (w, h, ga[::2])

    # 16-bit RGB: MSB survives
    samples = [rng.randrange(65536) for _ in range(w * h * 3)]
    pix16 = b"".join(struct.pack(">H", s) for s in samples)
    dw, dh, dec = decode_pixels(
        encode_png(w, h, pix16, color_type=2, bit_depth=16)
    )
    assert (dw, dh) == (w, h)
    assert dec == bytes(s >> 8 for s in samples)

    # 16-bit RGBA: both conversions compose
    s4 = [rng.randrange(65536) for _ in range(w * h * 4)]
    pix = b"".join(struct.pack(">H", s) for s in s4)
    dw, dh, dec = decode_pixels(
        encode_png(w, h, pix, color_type=6, bit_depth=16)
    )
    msb = [s >> 8 for s in s4]
    want = bytes(
        b for i in range(0, len(msb), 4) for b in msb[i : i + 3]
    )
    assert (dw, dh, dec) == (w, h, want)


@pytest.mark.parametrize("spread", [True, False])
def test_per_row_passes_plain_values_and_names_columns_from_schema(
    spark, spread
):
    """audits.per_row hands the row function plain Python values — not
    numpy scalars, not bytearray — and names the output columns in
    schema order, whatever the input column order."""
    from vector_ai_npm_spark.multimodal.audits import per_row

    src = spark.createDataFrame(
        [(1, True, bytearray(b"ab"), "x"), (2, False, bytearray(b""), "yz")],
        "i long, b boolean, p binary, s string",
    )

    def row(i, b, p, s):
        types = ",".join(type(v).__name__ for v in (i, b, p, s))
        return s, types, i * 10 + len(p)

    out = per_row(src, row, "s string, types string, n long", spread=spread)
    assert out.columns == ["s", "types", "n"]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("x", "int,bool,bytes,str", 12),
        ("yz", "int,bool,bytes,str", 20),
    ]
