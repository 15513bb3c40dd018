"""APNG control-chunk codec: the animated-PNG member of the no-codec
container audits (``multimodal.audits``).

Frame counts and loop policy live in the acTL/fcTL control chunks
(CRC-validated), so the pre-decode pass can tell a training pipeline
how many FRAMES (the decode-capacity unit, like PDF pages) an
innocently ".png" corpus actually holds without inflating any pixels.
"""

from __future__ import annotations

import struct
import zlib


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_apng_skeleton(
    w: int, h: int, n_frames: int, num_plays: int
) -> bytes:
    """Spec-shaped APNG control skeleton: IHDR, acTL, then per frame a
    CRC-valid fcTL (sequence-numbered, full-canvas, default blend/
    dispose) and a placeholder IDAT/fdAT.  Pixel payloads are empty —
    the audit reads control chunks only (the encode_webp_header
    pattern)."""
    if n_frames < 1:
        raise ValueError("APNG needs ≥1 frame")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    out = bytearray(_PNG_SIG + _chunk(b"IHDR", ihdr))
    out += _chunk(b"acTL", struct.pack(">II", n_frames, num_plays))
    seq = 0
    for i in range(n_frames):
        fctl = struct.pack(
            ">IIIIIHHBB", seq, w, h, 0, 0, 1, 10, 0, 0
        )
        out += _chunk(b"fcTL", fctl)
        seq += 1
        if i == 0:
            out += _chunk(b"IDAT", b"")
        else:
            out += _chunk(b"fdAT", struct.pack(">I", seq))
            seq += 1
    out += _chunk(b"IEND", b"")
    return bytes(out)


def encode_png_still(w: int, h: int) -> bytes:
    """A plain (non-animated) PNG skeleton: IHDR, an empty IDAT, IEND."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", b"")
        + _chunk(b"IEND", b"")
    )


def apng_audit(payload: bytes) -> tuple[int, int, int, int, bool]:
    """(width, height, n_frames, num_plays, is_animated) from the
    control chunks.  A plain PNG (no acTL) reports 1 frame, plays 0,
    is_animated False.  CRC mismatches on control chunks and
    acTL/fcTL count disagreements raise ValueError — a corrupt
    animation control block means frame extraction would misbehave,
    so the asset quarantines."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    i = 8
    width = height = None
    n_frames = None
    num_plays = 0
    fctl_count = 0
    while i + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[i : i + 4])
        typ = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + ln]
        if typ in (b"IHDR", b"acTL", b"fcTL"):
            (crc,) = struct.unpack(
                ">I", payload[i + 8 + ln : i + 12 + ln]
            )
            if crc != (zlib.crc32(typ + data) & 0xFFFFFFFF):
                raise ValueError(f"bad CRC on {typ.decode()} chunk")
        if typ == b"IHDR":
            width, height = struct.unpack(">II", data[:8])
        elif typ == b"acTL":
            n_frames, num_plays = struct.unpack(">II", data[:8])
        elif typ == b"fcTL":
            fctl_count += 1
        elif typ == b"IEND":
            break
        i += 12 + ln
    if width is None:
        raise ValueError("no IHDR chunk")
    if n_frames is None:
        return width, height, 1, 0, False
    if fctl_count != n_frames:
        raise ValueError(
            f"acTL declares {n_frames} frames but {fctl_count} fcTL "
            "chunks present"
        )
    return width, height, n_frames, num_plays, True
