"""Minimal pure-Python AVI (RIFF) codec; no video library is required.

Implemented from the public RIFF/AVI container description only (Microsoft
"AVI RIFF File Reference" / OpenDML): outer ``RIFF size 'AVI '`` form, a
``LIST 'hdrl'`` whose ``avih`` main header carries frame period, frame
count, and dimensions, and a ``LIST 'movi'`` whose ``00db`` chunks carry
uncompressed device-independent-bitmap frames — bottom-up BGR24 rows padded
to 4 bytes, exactly the pixel layout of a classic BMP (shared row logic
with functions/imagecodec.py's BMP branch).  The encoder exists so tests
can generate inputs without any external library; ``decode(encode(x)) == x``
is pinned frame-for-frame.

This is NOT a general-purpose library: compressed streams (``00dc`` with a
real codec fourcc), audio streams, palettized frames, and OpenDML index
structures are rejected with ValueError / probe None, mirroring the
imagecodec/audiocodec contract.
"""

from __future__ import annotations

import struct

import numpy as np

_RIFF = b"RIFF"
_AVI = b"AVI "


def _chunks(data: bytes, pos: int, end: int):
    """Yield (chunk_id, list_type_or_None, body_start, body_len) for every
    RIFF sub-chunk in data[pos:end].  LIST chunks report their list type and
    a body that EXCLUDES the 4-byte type tag."""
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if cid == b"LIST" and length >= 4:
            yield cid, data[pos + 8 : pos + 12], pos + 12, length - 4
        else:
            yield cid, None, pos + 8, length
        pos += 8 + length + (length & 1)  # chunks are word-aligned


def probe_avi(data: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, n_frames, us_per_frame) for supported uncompressed
    24bpp AVIs, None otherwise (wrong magic, no header, compressed video)."""
    if data is None or len(data) < 12 or data[:4] != _RIFF or data[8:12] != _AVI:
        return None
    for cid, ltype, start, length in _chunks(data, 12, len(data)):
        if cid != b"LIST" or ltype != b"hdrl":
            continue
        for hcid, _, hstart, hlen in _chunks(data, start, start + length):
            if hcid == b"avih" and hlen >= 40:
                (us_per_frame, _maxbps, _pad, _flags, total_frames,
                 _init, _streams, _sugg, width, height) = struct.unpack(
                    "<10I", data[hstart : hstart + 40]
                )
                if width < 1 or height < 1 or total_frames < 1:
                    return None
                return width, height, total_frames, us_per_frame
        return None
    return None


def decode_avi(data: bytes) -> tuple[np.ndarray, int]:
    """AVI bytes -> ((n_frames, height, width, 3) uint8 RGB array,
    us_per_frame).  Only uncompressed bottom-up BGR24 '00db' frames are
    supported; anything else raises ValueError."""
    meta = probe_avi(data)
    if meta is None:
        raise ValueError("not a supported AVI (uncompressed 24bpp DIB)")
    width, height, n_frames, us_per_frame = meta
    row_bytes = (width * 3 + 3) & ~3  # BMP-style 4-byte row padding
    frames: list[np.ndarray] = []
    for cid, ltype, start, length in _chunks(data, 12, len(data)):
        if cid != b"LIST" or ltype != b"movi":
            continue
        for fcid, _, fstart, flen in _chunks(data, start, start + length):
            if fcid[2:4] == b"dc" and flen > 0:
                raise ValueError("compressed AVI frames are not supported")
            if fcid[2:4] != b"db":
                continue
            if flen < row_bytes * height:
                raise ValueError("truncated AVI frame chunk")
            rows = np.frombuffer(
                data[fstart : fstart + row_bytes * height], dtype=np.uint8
            ).reshape(height, row_bytes)
            bgr = rows[::-1, : width * 3].reshape(height, width, 3)
            frames.append(bgr[:, :, ::-1])  # BGR -> RGB
    if len(frames) != n_frames:
        raise ValueError(
            f"frame count mismatch: header says {n_frames}, movi has {len(frames)}"
        )
    return np.stack(frames), us_per_frame


def encode_avi(frames: np.ndarray, us_per_frame: int = 40000) -> bytes:
    """(n_frames, height, width, 3) uint8 RGB -> AVI bytes (DIB 24bpp)."""
    if frames.ndim != 4 or frames.shape[3] != 3 or frames.dtype != np.uint8:
        raise ValueError("AVI encoder takes (n, h, w, 3) uint8 RGB frames")
    n_frames, height, width, _ = frames.shape
    row_bytes = (width * 3 + 3) & ~3
    frame_bytes = row_bytes * height

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def list_chunk(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<14I", us_per_frame, frame_bytes * 1_000_000 // max(us_per_frame, 1),
        0, 0x10, n_frames, 0, 1, frame_bytes, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<I", 0)  # fccType, fccHandler, flags
        + struct.pack("<HHI", 0, 0, 0)            # priority, language, initial
        + struct.pack("<IIIII", us_per_frame, 1_000_000, 0, n_frames, frame_bytes)
        + struct.pack("<iII", -1, 0, 0)           # quality, samplesize, rcFrame lo
        + struct.pack("<HH", width, height)       # rcFrame hi
    )
    strf = struct.pack(  # BITMAPINFOHEADER, biCompression=0 (BI_RGB)
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_bytes, 0, 0, 0, 0
    )
    hdrl = list_chunk(
        b"hdrl",
        chunk(b"avih", avih) + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b""
    for f in frames:
        bgr = f[:, :, ::-1]  # RGB -> BGR
        rows = np.zeros((height, row_bytes), dtype=np.uint8)
        rows[:, : width * 3] = bgr.reshape(height, width * 3)
        movi_body += chunk(b"00db", rows[::-1].tobytes())  # bottom-up
    payload = _AVI + hdrl + list_chunk(b"movi", movi_body)
    return _RIFF + struct.pack("<I", len(payload)) + payload
