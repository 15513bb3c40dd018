"""RIFF-WAVE header codec: the audio member of the no-codec container
audits (``multimodal.audits``).

Channels, sample rate, bit depth and duration come from the fmt and
data chunk bytes alone, no audio library (the RIFF walk of
``webp.webp_dims``, reused shape).
"""

from __future__ import annotations

import struct


def encode_wav_header(
    channels: int, sample_rate: int, bits: int, n_frames: int
) -> bytes:
    """Spec-valid RIFF-WAVE holding fmt + a data chunk of silence."""
    if channels < 1 or bits % 8 or n_frames < 0:
        raise ValueError("bad WAV parameters")
    block = channels * bits // 8
    data_len = n_frames * block
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * block, block, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", data_len) + b"\x00" * data_len
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_dims(payload: bytes) -> tuple[int, int, int, int]:
    """(channels, sample_rate, bits, n_frames) from the fmt/data
    chunks; ValueError on non-WAV or truncated containers."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF-WAVE container")
    pos = 12
    fmt = None
    data_len = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if cid == b"fmt ":
            fmt = payload[pos + 8 : pos + 8 + size]
            if len(fmt) < 16:
                raise ValueError("truncated fmt chunk")
        elif cid == b"data":
            data_len = size
        pos += 8 + size + (size & 1)
    if fmt is None or data_len is None:
        raise ValueError("missing fmt/data chunk")
    _, channels, rate, _, block, bits = struct.unpack("<HHIIHH", fmt[:16])
    if block != channels * bits // 8 or block == 0:
        raise ValueError("inconsistent block alignment")
    if data_len % block:
        raise ValueError("data chunk is not frame-aligned")
    return channels, rate, bits, data_len // block
