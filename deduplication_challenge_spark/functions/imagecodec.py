"""Minimal pure-Python image codecs (PNG + BMP); no imaging library is
required.

Implemented from the public specs only: PNG per RFC 2083 / W3C PNG (8-bit
depth, color types 0 gray / 2 RGB / 4 gray+alpha / 6 RGBA, non-interlaced,
all five scanline filters) and the classic 24bpp uncompressed
BITMAPINFOHEADER BMP.  Encoders exist so tests can generate inputs without
any external library; decode(encode(x)) == x is pinned byte-for-byte.

This is NOT a general-purpose library: palette PNGs, 16-bit depth,
interlacing, and compressed BMPs are rejected with ValueError.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # PNG color type -> samples per pixel


# ---------------------------------------------------------------------------
# PNG scanline filters (spec section 6): filt/unfilt are exact inverses
# ---------------------------------------------------------------------------

def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    out = row.astype(np.int32)
    if ftype == 0:  # None
        pass
    elif ftype == 1:  # Sub: out[x] = row[x] + out[x-bpp] == per-lane prefix sum
        lanes = out.reshape(-1, bpp).astype(np.int64)
        out = (np.cumsum(lanes, axis=0) & 0xFF).astype(np.int32).reshape(-1)
    elif ftype == 2:  # Up
        out = (out + prev) & 0xFF
    elif ftype == 3:  # Average
        for x in range(len(out)):
            left = out[x - bpp] if x >= bpp else 0
            out[x] = (out[x] + ((left + int(prev[x])) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for x in range(len(out)):
            left = out[x - bpp] if x >= bpp else 0
            ul = int(prev[x - bpp]) if x >= bpp else 0
            out[x] = (out[x] + _paeth(int(left), int(prev[x]), ul)) & 0xFF
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return out.astype(np.uint8)


def _filter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    cur = row.astype(np.int32)
    if ftype == 0:
        out = cur
    elif ftype == 1:
        out = cur.copy()
        out[bpp:] = (cur[bpp:] - cur[:-bpp]) & 0xFF
    elif ftype == 2:
        out = (cur - prev) & 0xFF
    elif ftype == 3:
        out = cur.copy()
        for x in range(len(out)):
            left = int(row[x - bpp]) if x >= bpp else 0
            out[x] = (int(row[x]) - ((left + int(prev[x])) >> 1)) & 0xFF
    elif ftype == 4:
        out = cur.copy()
        for x in range(len(out)):
            left = int(row[x - bpp]) if x >= bpp else 0
            ul = int(prev[x - bpp]) if x >= bpp else 0
            out[x] = (int(row[x]) - _paeth(left, int(prev[x]), ul)) & 0xFF
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return out.astype(np.uint8)


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

def _png_chunks(data: bytes):
    pos = len(PNG_MAGIC)
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        yield ctype, body
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IEND":
            return


def probe_png(data: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from IHDR, or None if not a PNG."""
    if not data.startswith(PNG_MAGIC) or len(data) < 33:
        return None
    w, h, depth, ctype = struct.unpack(">IIBB", data[16:26])
    if depth != 8 or ctype not in _CHANNELS:
        return None
    return w, h, _CHANNELS[ctype]


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) uint8.  8-bit, non-interlaced only."""
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG")
    width = height = None
    channels = 0
    idat = bytearray()
    for ctype, body in _png_chunks(data):
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if color not in _CHANNELS:
                raise ValueError(f"unsupported color type {color}")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            channels = _CHANNELS[color]
        elif ctype == b"IDAT":
            idat.extend(body)
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    stride = width * channels
    expected = height * (stride + 1)
    # BOUNDED decompression: an unbounded zlib.decompress would let a tiny
    # crafted payload (zlib bomb) materialize gigabytes before the size
    # check and OOM-kill the process — cap at expected+1 and reject
    # overlong streams as malformed
    d = zlib.decompressobj()
    raw = np.frombuffer(d.decompress(bytes(idat), expected + 1), dtype=np.uint8)
    if len(raw) != expected or (
        d.unconsumed_tail and d.decompress(d.unconsumed_tail, 1)
    ):
        raise ValueError("scanline size mismatch")
    raw = raw.reshape(height, stride + 1)
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        out[y] = _unfilter_row(int(raw[y, 0]), raw[y, 1:], prev, channels)
        prev = out[y].astype(np.int32)
    return out.reshape(height, width, channels)


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """(H, W, C) uint8 -> PNG bytes (one filter type for every scanline)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    flat = arr.reshape(h, w * c).astype(np.uint8)
    prev = np.zeros(w * c, dtype=np.int32)
    lines = bytearray()
    for y in range(h):
        lines.append(filter_type)
        lines.extend(_filter_row(filter_type, flat[y], prev, c).tobytes())
        prev = flat[y].astype(np.int32)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# BMP (24bpp uncompressed, BITMAPINFOHEADER, bottom-up)
# ---------------------------------------------------------------------------

def probe_bmp(data: bytes) -> tuple[int, int, int] | None:
    if len(data) < 54 or data[:2] != b"BM":
        return None
    hdr_size, w, h = struct.unpack("<Iii", data[14:26])
    bpp, comp = struct.unpack("<HI", data[28:34])
    if hdr_size != 40 or bpp != 24 or comp != 0 or h <= 0 or w <= 0:
        return None  # top-down (negative height) BMPs not supported
    return w, h, 3


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> (H, W, 3) uint8 RGB."""
    meta = probe_bmp(data)
    if meta is None:
        raise ValueError("not a supported BMP (24bpp uncompressed)")
    w, h, _ = meta
    (offset,) = struct.unpack("<I", data[10:14])
    row_size = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    px = np.frombuffer(data[offset:offset + row_size * h], dtype=np.uint8)
    px = px.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    return px[::-1, :, ::-1].copy()  # bottom-up + BGR -> top-down RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("BMP encoder takes (H, W, 3) RGB")
    row_size = (w * 3 + 3) & ~3
    body = bytearray()
    bgr = arr[::-1, :, ::-1]  # top-down RGB -> bottom-up BGR
    pad = b"\x00" * (row_size - w * 3)
    for y in range(h):
        body.extend(bgr[y].tobytes())
        body.extend(pad)
    info = struct.pack("<IiIHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return file_hdr + info + bytes(body)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

def probe_image(data: bytes) -> tuple[str, int, int, int] | None:
    """(format, width, height, channels) or None if not a supported image."""
    if data is None:
        return None
    p = probe_png(data)
    if p is not None:
        return ("png", *p)
    b = probe_bmp(data)
    if b is not None:
        return ("bmp", *b)
    return None


def decode_image(data: bytes) -> np.ndarray | None:
    """Decode PNG/BMP payloads to (H, W, C) uint8; None when the payload is
    not a supported image."""
    meta = probe_image(data)
    if meta is None:
        return None
    if meta[0] == "png":
        return decode_png(data)
    return decode_bmp(data)
