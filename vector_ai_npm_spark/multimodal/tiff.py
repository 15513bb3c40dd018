"""TIFF container parsing + pixel decode (grayscale 8-bit baseline).

Round 9 landed the no-codec dims audit (header-only, both endians);
round 10 closes the verdict's item-2 seam with PIXEL decode for the
two pure-Python-implementable compressions a scanned-document corpus
actually carries:

  * **PackBits** (Compression=32773) — the trivial RLE, decoded
    strip-by-strip;
  * **TIFF-LZW** (Compression=5) — the same LZW family as GIF
    (multimodal/gif.py proved the codec budget) with TIFF's three
    differences: MSB-first bit packing, 256-symbol alphabet with
    Clear=256/EOI=257, and the spec's "early change" code-width bump
    (one code earlier than GIF's) — plus the horizontal-differencing
    Predictor (tag 317 = 2) commonly paired with it;
  * Compression=1 (none) — the baseline.

New-style JPEG-in-TIFF (Compression=7, TechNote 2) decodes through the
repo's own baseline JPEG codec (r13: shared tables via tag 347 merged
into each abbreviated strip — the scanned-document double-compression
layout).  Old-style Compression=6 and non-8-bit/multi-sample images stay
a reasoned ValueError → the tested quarantine route, same as exotic
JPEG.  Strips (RowsPerStrip / StripOffsets / StripByteCounts,
including offset-stored value arrays) are parsed in full — real
scanner TIFFs are multi-strip.

At 100 TB the decode rides the standard multimodal contract: one
Arrow-batched mapInPandas, payloads never shuffle
(multimodal/decodes.py).

Public spec: TIFF 6.0 (Adobe, 1992) §7 (PackBits), §13 (LZW).
"""

from __future__ import annotations

import struct

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1}


def is_tiff(payload: bytes) -> bool:
    return payload[:4] in (b"II*\x00", b"MM\x00*")


def tiff_dims(payload: bytes) -> tuple[int, int, str]:
    """(width, height, endianness) from the first IFD.

    Raises ValueError on malformed headers — the quarantine signal."""
    if len(payload) < 8 or not is_tiff(payload):
        raise ValueError("not a TIFF (bad byte-order mark / magic)")
    little = payload[:2] == b"II"
    endian = "<" if little else ">"
    (ifd_off,) = struct.unpack(endian + "I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("IFD offset past end of file")
    (n_entries,) = struct.unpack(
        endian + "H", payload[ifd_off : ifd_off + 2]
    )
    w = h = None
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        entry = payload[off : off + 12]
        if len(entry) < 12:
            raise ValueError("truncated IFD entry")
        tag, typ, count = struct.unpack(endian + "HHI", entry[:8])
        if tag in (256, 257):
            if count != 1 or typ not in (3, 4):
                raise ValueError(f"tag {tag}: unsupported type/count")
            if typ == 3:  # SHORT: value in the first 2 bytes
                (val,) = struct.unpack(endian + "H", entry[8:10])
            else:  # LONG
                (val,) = struct.unpack(endian + "I", entry[8:12])
            if tag == 256:
                w = val
            else:
                h = val
    if w is None or h is None:
        raise ValueError("TIFF IFD missing ImageWidth/ImageLength")
    return w, h, "little" if little else "big"


def encode_tiff_header(
    w: int, h: int, little: bool = True, extra_tags: int = 3
) -> bytes:
    """Spec-valid TIFF holding only the first IFD (no strip data) —
    the fixture generator for the dims round-trip.  Width is written
    as LONG, height as SHORT (exercising both inline layouts), plus
    ``extra_tags`` unrelated entries the parser must skip."""
    if not (1 <= w <= 0xFFFFFFFF and 1 <= h <= 0xFFFF):
        raise ValueError("dims out of tag-type range")
    endian = "<" if little else ">"
    out = bytearray(b"II*\x00" if little else b"MM\x00*")
    out += struct.pack(endian + "I", 8)  # IFD right after header
    entries = []
    # BitsPerSample(258), Compression(259)=1, PhotometricInterp(262)
    fillers = ((258, 3, 8), (259, 3, 1), (262, 3, 1))
    tags = [
        (256, 4, w),  # LONG width
        (257, 3, h),  # SHORT height
        *fillers[: max(0, extra_tags)],
    ]
    for tag, typ, val in sorted(tags):
        if typ == 3:
            value_bytes = struct.pack(endian + "H", val) + b"\x00\x00"
        else:
            value_bytes = struct.pack(endian + "I", val)
        entries.append(
            struct.pack(endian + "HHI", tag, typ, 1) + value_bytes
        )
    out += struct.pack(endian + "H", len(entries))
    for e in entries:
        out += e
    out += struct.pack(endian + "I", 0)  # no next IFD
    return bytes(out)


# --------------------------------------------------------------------------
# PackBits (TIFF 6.0 §7) — byte-oriented RLE, applied per strip
# --------------------------------------------------------------------------


def packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits: literal runs ≤128, repeat runs 2..128."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find a repeat run
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 2:
            out.append(257 - run)  # -(run-1) as unsigned
            out.append(data[i])
            i = j + 1
            continue
        # literal run: until the next ≥2 repeat or 128 bytes
        j = i
        while j + 1 < n and j - i < 127 and not (
            j + 2 < n and data[j + 1] == data[j + 2]
        ):
            j += 1
        if j + 1 >= n and j - i < 127:
            j = min(n - 1, i + 127)
        out.append(j - i)
        out += data[i : j + 1]
        i = j + 1
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`packbits_encode`; ValueError on overrun."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        b = data[i]
        i += 1
        if b == 128:  # no-op per spec
            continue
        if b < 128:  # literal: next b+1 bytes
            if i + b + 1 > n:
                raise ValueError("PackBits literal run truncated")
            out += data[i : i + b + 1]
            i += b + 1
        else:  # repeat: next byte 257-b times
            if i >= n:
                raise ValueError("PackBits repeat run truncated")
            out += bytes([data[i]]) * (257 - b)
            i += 1
    if len(out) != expected:
        raise ValueError(
            f"PackBits strip decoded {len(out)} bytes, want {expected}"
        )
    return bytes(out)


# --------------------------------------------------------------------------
# TIFF-LZW (TIFF 6.0 §13): MSB-first packing, Clear=256/EOI=257,
# "early change" width bump (one code earlier than GIF's)
# --------------------------------------------------------------------------

_T_CLEAR = 256
_T_EOI = 257
_T_FIRST = 258
_T_TABLE_LIMIT = 4094  # spec: emit Clear when the table reaches 4094


class _MsbBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


class _MsbBitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("TIFF LZW stream truncated")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= width
        code = (self.acc >> self.nbits) & ((1 << width) - 1)
        self.acc &= (1 << self.nbits) - 1
        return code


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW over raw strip bytes.

    Width discipline (the spec's "early change", derived as the
    encoder/decoder pair the same way gif.py's was, then
    property-tested round-trip across every width boundary): the
    ENCODER bumps when its next free code reaches 2^width − 1; the
    DECODER — whose table lags one entry behind — bumps when ITS next
    free code reaches 2^width − 1 as well, because it adds the lagging
    entry BEFORE reading the next code."""
    bw = _MsbBitWriter()

    def fresh() -> tuple[dict, int, int]:
        return {bytes([i]): i for i in range(256)}, _T_FIRST, 9

    table, next_code, width = fresh()
    bw.write(_T_CLEAR, width)
    cur = b""
    for px in data:
        nxt = cur + bytes([px])
        if nxt in table:
            cur = nxt
            continue
        bw.write(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code == _T_TABLE_LIMIT:
            bw.write(_T_CLEAR, width)
            table, next_code, width = fresh()
        cur = bytes([px])
    if cur:
        bw.write(table[cur], width)
        # the decoder ADDS an entry while processing this final code,
        # catching its table up to ours — mirror its width bump so the
        # EOI is written at the width it will read with
        if next_code == (1 << width) - 2 and width < 12:
            width += 1
    bw.write(_T_EOI, width)
    return bw.flush()


def tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`tiff_lzw_encode`; ValueError on malformed
    streams (bad codes, missing EOI, overrun past ``expected``)."""
    br = _MsbBitReader(data)
    out = bytearray()

    def fresh() -> tuple[dict, int, int]:
        return {i: bytes([i]) for i in range(256)}, _T_FIRST, 9

    table, next_code, width = fresh()
    prev: bytes | None = None
    while True:
        code = br.read(width)
        if code == _T_CLEAR:
            table, next_code, width = fresh()
            prev = None
            continue
        if code == _T_EOI:
            break
        if prev is None:
            if code not in table:
                raise ValueError(f"TIFF LZW: bad first code {code}")
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError(f"TIFF LZW: code {code} out of range")
            if next_code < _T_TABLE_LIMIT:
                table[next_code] = prev + entry[:1]
                next_code += 1
                # one code EARLIER than the encoder's in-loop bump:
                # the decoder's table lags one entry behind mid-stream
                if next_code == (1 << width) - 2 and width < 12:
                    width += 1
        out += entry
        if len(out) > expected:
            raise ValueError("TIFF LZW: more bytes than strip size")
        prev = entry
    if len(out) != expected:
        raise ValueError(
            f"TIFF LZW strip decoded {len(out)} bytes, want {expected}"
        )
    return bytes(out)


# --------------------------------------------------------------------------
# full-IFD parse + grayscale pixel decode
# --------------------------------------------------------------------------

_COMP_NONE = 1
_COMP_LZW = 5
_COMP_JPEG_OLD = 6
_COMP_JPEG_NEW = 7
_COMP_PACKBITS = 32773


def _read_ifd_values(payload: bytes, endian: str) -> dict[int, list[int]]:
    """Every first-IFD tag → its integer value list (BYTE/SHORT/LONG),
    following the offset indirection when values don't fit inline."""
    (ifd_off,) = struct.unpack(endian + "I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("IFD offset past end of file")
    (n_entries,) = struct.unpack(endian + "H", payload[ifd_off : ifd_off + 2])
    fmt = {1: "B", 3: "H", 4: "I", 7: "B"}  # 7 = UNDEFINED (JPEGTables)
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        entry = payload[off : off + 12]
        if len(entry) < 12:
            raise ValueError("truncated IFD entry")
        tag, typ, count = struct.unpack(endian + "HHI", entry[:8])
        if typ not in fmt:
            continue  # RATIONAL/ASCII tags — not needed for decode
        size = _TYPE_SIZES[typ] * count
        if size <= 4:
            raw = entry[8 : 8 + size]
        else:
            (voff,) = struct.unpack(endian + "I", entry[8:12])
            raw = payload[voff : voff + size]
            if len(raw) < size:
                raise ValueError(f"tag {tag}: value block truncated")
        tags[tag] = list(struct.unpack(endian + str(count) + fmt[typ], raw))
    return tags


def decode_tiff(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, grayscale bytes) for 8-bit single-sample TIFFs
    compressed with none/PackBits/LZW (+ optional horizontal-
    differencing predictor) or new-style JPEG (Compression=7, shared
    JPEGTables or self-contained strips).  Raises ValueError on every
    other variant — the quarantine signal (old-style Compression=6,
    multi-sample, deep bit depths)."""
    if len(payload) < 8 or not is_tiff(payload):
        raise ValueError("not a TIFF (bad byte-order mark / magic)")
    endian = "<" if payload[:2] == b"II" else ">"
    tags = _read_ifd_values(payload, endian)

    def one(tag: int, default: int | None = None) -> int:
        if tag not in tags:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return tags[tag][0]

    w, h = one(256), one(257)
    comp = one(259, 1)
    bits = one(258, 1)
    spp = one(277, 1)
    predictor = one(317, 1)
    if comp == _COMP_JPEG_OLD:
        # Compression=6 ("old-style") was deprecated by TechNote 2 for
        # being underspecified (writers disagreed on what the
        # JPEGInterchangeFormat tags point at); real-crawl frequency is
        # ~nil vs new-style.  Permanently gated → quarantine.
        raise ValueError(
            "old-style JPEG-in-TIFF (Compression=6) is underspecified: "
            "quarantine"
        )
    if comp not in (
        _COMP_NONE, _COMP_LZW, _COMP_PACKBITS, _COMP_JPEG_NEW,
    ):
        raise ValueError(f"unsupported TIFF compression {comp}")
    if bits != 8 or spp != 1:
        raise ValueError(
            f"only 8-bit single-sample TIFFs decodable (bits={bits}, "
            f"samples={spp})"
        )
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF strip offsets/byte-counts missing")
    rows_per_strip = one(278, h)
    # TechNote-2 JPEG-in-TIFF: shared tables live in tag 347 (a
    # SOI..EOI stream of DQT/DHT/DRI); each strip is an abbreviated
    # JPEG; merge = SOI + tables_body + strip[2:].  A strip carrying
    # its own tables (no tag 347) decodes as-is.
    jpeg_tables_body = b""
    if comp == _COMP_JPEG_NEW and 347 in tags:
        tb = bytes(tags[347])
        if tb[:2] != b"\xff\xd8" or tb[-2:] != b"\xff\xd9":
            raise ValueError("JPEGTables tag is not an SOI..EOI stream")
        jpeg_tables_body = tb[2:-2]
    out = bytearray()
    row_from = 0
    for soff, scnt in zip(offsets, counts):
        strip = payload[soff : soff + scnt]
        if len(strip) < scnt:
            raise ValueError("TIFF strip data truncated")
        n_rows = min(rows_per_strip, h - row_from)
        if n_rows <= 0:
            raise ValueError("more strips than image rows")
        want = n_rows * w
        if comp == _COMP_JPEG_NEW:
            from vector_ai_npm_spark.multimodal.jpeg import decode_jpeg

            if strip[:2] != b"\xff\xd8":
                raise ValueError("JPEG-in-TIFF strip missing SOI")
            stream = b"\xff\xd8" + jpeg_tables_body + strip[2:]
            sw, sh, px = decode_jpeg(stream)
            if sw != w or sh != n_rows:
                raise ValueError(
                    f"JPEG strip decodes {sw}x{sh}, want {w}x{n_rows}"
                )
            if len(px) != want:  # color strip => RGB bytes => mismatch
                raise ValueError(
                    "JPEG-in-TIFF strip is not grayscale: quarantine"
                )
            raw = px
        elif comp == _COMP_NONE:
            if len(strip) != want:
                raise ValueError("uncompressed strip size mismatch")
            raw = strip
        elif comp == _COMP_PACKBITS:
            raw = packbits_decode(strip, want)
        else:
            raw = tiff_lzw_decode(strip, want)
        if predictor == 2:  # horizontal differencing: cumsum per row
            rows = bytearray(raw)
            for r in range(n_rows):
                base = r * w
                for c in range(1, w):
                    rows[base + c] = (rows[base + c] + rows[base + c - 1]) & 0xFF
            raw = bytes(rows)
        out += raw
        row_from += n_rows
    if row_from != h or len(out) != w * h:
        raise ValueError(
            f"TIFF strips decoded {len(out)} bytes, want {w * h}"
        )
    return w, h, bytes(out)


def encode_tiff(
    w: int,
    h: int,
    pixels: bytes,
    compression: int = _COMP_NONE,
    little: bool = True,
    rows_per_strip: int | None = None,
    predictor: int = 1,
) -> bytes:
    """Spec-valid grayscale 8-bit TIFF (the fixture generator for the
    decode round-trip): multi-strip when ``rows_per_strip`` < h, strip
    offset/count arrays stored out-of-line when they don't fit inline,
    compression ∈ {1, 5, 32773}, optional predictor=2 with LZW."""
    if len(pixels) != w * h:
        raise ValueError(f"want {w * h} pixel bytes, got {len(pixels)}")
    if compression not in (_COMP_NONE, _COMP_LZW, _COMP_PACKBITS):
        raise ValueError(f"unsupported compression {compression}")
    if predictor == 2 and compression != _COMP_LZW:
        raise ValueError("predictor=2 is only paired with LZW here")
    endian = "<" if little else ">"
    rps = h if rows_per_strip is None else max(1, rows_per_strip)
    strips: list[bytes] = []
    for row_from in range(0, h, rps):
        n_rows = min(rps, h - row_from)
        raw = pixels[row_from * w : (row_from + n_rows) * w]
        if predictor == 2:
            rows = bytearray(raw)
            for r in range(n_rows):
                base = r * w
                for c in range(w - 1, 0, -1):
                    rows[base + c] = (rows[base + c] - rows[base + c - 1]) & 0xFF
            raw = bytes(rows)
        if compression == _COMP_PACKBITS:
            strips.append(packbits_encode(raw))
        elif compression == _COMP_LZW:
            strips.append(tiff_lzw_encode(raw))
        else:
            strips.append(raw)
    n_strips = len(strips)
    # layout: header(8) | IFD | out-of-line tag values | strip data
    tag_list: list[tuple[int, int, list[int]]] = [
        (256, 4, [w]),
        (257, 4, [h]),
        (258, 3, [8]),
        (259, 3, [compression]),
        (262, 3, [1]),
        (273, 4, [0] * n_strips),  # offsets patched below
        (277, 3, [1]),
        (278, 4, [rps]),
        (279, 4, [len(s) for s in strips]),
    ]
    if predictor == 2:
        tag_list.append((317, 3, [2]))
    tag_list.sort()
    ifd_off = 8
    ifd_size = 2 + 12 * len(tag_list) + 4
    fmt = {3: "H", 4: "I"}
    # out-of-line region
    extra_off = ifd_off + ifd_size
    extra = bytearray()
    placements: dict[int, int] = {}  # tag -> absolute offset of value block
    for tag, typ, vals in tag_list:
        size = _TYPE_SIZES[typ] * len(vals)
        if size > 4:
            placements[tag] = extra_off + len(extra)
            extra += b"\x00" * size
    data_off = extra_off + len(extra)
    strip_offsets = []
    pos = data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    # patch the offsets tag now that positions are known
    for i, (tag, typ, vals) in enumerate(tag_list):
        if tag == 273:
            tag_list[i] = (tag, typ, strip_offsets)
    out = bytearray(b"II*\x00" if little else b"MM\x00*")
    out += struct.pack(endian + "I", ifd_off)
    out += struct.pack(endian + "H", len(tag_list))
    extra = bytearray()
    for tag, typ, vals in tag_list:
        size = _TYPE_SIZES[typ] * len(vals)
        packed = struct.pack(endian + str(len(vals)) + fmt[typ], *vals)
        out += struct.pack(endian + "HHI", tag, typ, len(vals))
        if size <= 4:
            out += packed + b"\x00" * (4 - size)
        else:
            out += struct.pack(endian + "I", placements[tag])
            extra += packed
    out += struct.pack(endian + "I", 0)  # no next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)


def encode_tiff_jpeg(
    w: int,
    h: int,
    pixels: bytes,
    quality: int = 90,
    little: bool = True,
    rows_per_strip: int | None = None,
    use_jpeg_tables: bool = True,
) -> bytes:
    """Spec-valid new-style JPEG-in-TIFF (Compression=7) fixture
    generator: each strip is a grayscale baseline JPEG from the repo's
    own encoder.  ``use_jpeg_tables=True`` writes the shared-tables
    layout (DQT/DHT split into tag 347, abbreviated strips — the
    TechNote-2 form libtiff writes); ``False`` leaves every strip
    self-contained (also spec-legal, seen from non-libtiff writers).
    Deterministic end-to-end: pure-Python encode and decode, so the
    decoded pixel hash is pinnable."""
    from vector_ai_npm_spark.multimodal.jpeg import (
        encode_jpeg,
        split_jpeg_tables,
    )

    if len(pixels) != w * h:
        raise ValueError(f"want {w * h} pixel bytes, got {len(pixels)}")
    endian = "<" if little else ">"
    rps = h if rows_per_strip is None else max(1, rows_per_strip)
    strips: list[bytes] = []
    tables_stream = b""
    for row_from in range(0, h, rps):
        n_rows = min(rps, h - row_from)
        raw = pixels[row_from * w : (row_from + n_rows) * w]
        jpg = encode_jpeg(w, n_rows, raw, color=False, quality=quality)
        if use_jpeg_tables:
            tbl, abbrev = split_jpeg_tables(jpg)
            if not tables_stream:
                tables_stream = tbl
            elif tbl != tables_stream:
                raise ValueError("strip tables diverge; cannot share 347")
            strips.append(abbrev)
        else:
            strips.append(jpg)
    n_strips = len(strips)
    tag_list: list[tuple[int, int, list[int]]] = [
        (256, 4, [w]),
        (257, 4, [h]),
        (258, 3, [8]),
        (259, 3, [_COMP_JPEG_NEW]),
        (262, 3, [1]),
        (273, 4, [0] * n_strips),  # offsets patched below
        (277, 3, [1]),
        (278, 4, [rps]),
        (279, 4, [len(s) for s in strips]),
    ]
    if use_jpeg_tables:
        tag_list.append((347, 7, list(tables_stream)))
    tag_list.sort()
    ifd_off = 8
    ifd_size = 2 + 12 * len(tag_list) + 4
    fmt = {3: "H", 4: "I", 7: "B"}
    extra_off = ifd_off + ifd_size
    extra_probe = bytearray()
    placements: dict[int, int] = {}
    for tag, typ, vals in tag_list:
        size = _TYPE_SIZES[typ] * len(vals)
        if size > 4:
            placements[tag] = extra_off + len(extra_probe)
            extra_probe += b"\x00" * size
    data_off = extra_off + len(extra_probe)
    strip_offsets = []
    pos = data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    for i, (tag, typ, vals) in enumerate(tag_list):
        if tag == 273:
            tag_list[i] = (tag, typ, strip_offsets)
    out = bytearray(b"II*\x00" if little else b"MM\x00*")
    out += struct.pack(endian + "I", ifd_off)
    out += struct.pack(endian + "H", len(tag_list))
    extra = bytearray()
    for tag, typ, vals in tag_list:
        size = _TYPE_SIZES[typ] * len(vals)
        packed = struct.pack(endian + str(len(vals)) + fmt[typ], *vals)
        out += struct.pack(endian + "HHI", tag, typ, len(vals))
        if size <= 4:
            out += packed + b"\x00" * (4 - size)
        else:
            out += struct.pack(endian + "I", placements[tag])
            extra += packed
    out += struct.pack(endian + "I", 0)  # no next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)
