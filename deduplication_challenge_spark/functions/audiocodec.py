"""Minimal pure-Python WAV (RIFF/PCM) codec; no audio library is required.

Implemented from the public RIFF/WAVE format description only: classic
RIFF container ("RIFF" size "WAVE"), `fmt ` chunk with format tag 1
(integer PCM) at 8-bit unsigned or 16-bit signed little-endian, any channel
count, `data` chunk with interleaved frames.  The encoder exists so tests
can generate inputs without any external library; decode(encode(x)) == x is
pinned sample-for-sample.

This is NOT a general-purpose library: IEEE-float (tag 3), ADPCM,
extensible (tag 0xFFFE), and 24/32-bit PCM are rejected with ValueError,
mirroring functions/imagecodec.py's contract.
"""

from __future__ import annotations

import struct

import numpy as np

_RIFF = b"RIFF"
_WAVE = b"WAVE"


def _chunks(data: bytes):
    """Yield (chunk_id, body) for every top-level RIFF sub-chunk."""
    pos = 12  # past RIFF header
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        yield cid, body
        pos += 8 + length + (length & 1)  # chunks are word-aligned


def probe_wav(data: bytes) -> tuple[int, int, int, int] | None:
    """(sample_rate, n_channels, bits_per_sample, n_frames) for supported
    PCM WAVs, None otherwise (wrong magic, non-PCM, unsupported depth)."""
    if data is None or len(data) < 44 or data[:4] != _RIFF or data[8:12] != _WAVE:
        return None
    fmt = None
    n_data = None
    for cid, body in _chunks(data):
        if cid == b"fmt " and len(body) >= 16:
            tag, channels, rate, _brate, block, bits = struct.unpack("<HHIIHH", body[:16])
            # rate is uint32 on the wire but consumers store it in int32
            # columns — a rate >= 2^31 would wrap negative (or raise under
            # numpy 2.x, killing the whole Arrow batch); no real audio
            # exceeds it, so reject as malformed
            if tag != 1 or bits not in (8, 16) or channels < 1 or not (1 <= rate < 2**31):
                return None
            if block != channels * (bits // 8):
                return None
            fmt = (rate, channels, bits)
        elif cid == b"data":
            n_data = len(body)
    if fmt is None or n_data is None:
        return None
    rate, channels, bits = fmt
    frame_bytes = channels * (bits // 8)
    return rate, channels, bits, n_data // frame_bytes


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> ((n_frames, n_channels) sample array, sample_rate).
    16-bit PCM decodes to int16, 8-bit to uint8 (the container's own
    conventions: 16-bit is signed, 8-bit is unsigned)."""
    meta = probe_wav(data)
    if meta is None:
        raise ValueError("not a supported WAV (integer PCM, 8/16-bit)")
    rate, channels, bits, n_frames = meta
    body = next(b for cid, b in _chunks(data) if cid == b"data")
    dtype = np.dtype("<i2") if bits == 16 else np.uint8
    usable = n_frames * channels * (bits // 8)
    samples = np.frombuffer(body[:usable], dtype=dtype).reshape(n_frames, channels)
    return samples, rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n_frames, n_channels) int16/uint8 -> WAV bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.dtype == np.int16:
        bits = 16
        body = samples.astype("<i2").tobytes()
    elif samples.dtype == np.uint8:
        bits = 8
        body = samples.tobytes()
    else:
        raise ValueError("WAV encoder takes int16 or uint8 samples")
    n_frames, channels = samples.shape
    block = channels * (bits // 8)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, sample_rate * block, block, bits)
    payload = (
        _WAVE
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
        + (b"\x00" if len(body) & 1 else b"")
    )
    return _RIFF + struct.pack("<I", len(payload)) + payload
