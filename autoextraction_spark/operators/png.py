"""Stdlib-only PNG codec (zlib + struct) — makes the multimodal REAL-decode
path executable in environments without PIL/pillow.

Scope: non-interlaced, 8-bit-per-sample images, color types 0 (grayscale),
2 (RGB) and 6 (RGBA); all five PNG scanline filters (None/Sub/Up/Average/
Paeth) on BOTH encode and decode, per the PNG specification §9 (public
spec — no third-party code). This is a real decoder for the subset it
declares: the encoder can cycle filters per row, so a round-trip exercises
full filter reconstruction, not just the trivial filter-0 path.

The reference repo has no multimodal handling at all (engine-new operator
family); PIL remains the documented swap seam for other formats in
``multimodal._decode_image_real``.
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 6: 4}
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_row(
    ftype: int, row: bytes, prev: bytes, bpp: int
) -> bytearray:
    out = bytearray(len(row))
    for i, x in enumerate(row):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out[i] = x
        elif ftype == 1:
            out[i] = (x - a) & 0xFF
        elif ftype == 2:
            out[i] = (x - b) & 0xFF
        elif ftype == 3:
            out[i] = (x - (a + b) // 2) & 0xFF
        else:
            out[i] = (x - _paeth(a, b, c)) & 0xFF
    return out


def _unfilter_row(
    ftype: int, row: bytearray, prev: bytes, bpp: int
) -> bytearray:
    if ftype == 0:
        return row
    for i in range(len(row)):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 1:
            row[i] = (row[i] + a) & 0xFF
        elif ftype == 2:
            row[i] = (row[i] + b) & 0xFF
        elif ftype == 3:
            row[i] = (row[i] + (a + b) // 2) & 0xFF
        elif ftype == 4:
            row[i] = (row[i] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    return row


def encode_png(
    rows: list[bytes | bytearray],
    width: int,
    height: int,
    channels: int = 3,
) -> bytes:
    """Encode raw scanlines (``height`` rows of ``width*channels`` bytes).

    Row ``y`` uses filter ``y % 5``, so a decoder must implement full
    filter reconstruction to round-trip the image.
    """
    if len(rows) != height or any(len(r) != width * channels for r in rows):
        raise ValueError("rows must be height × (width*channels) bytes")
    color_type = _COLOR_TYPE[channels]
    bpp = channels
    raw = bytearray()
    prev = bytes(width * channels)
    for y, row in enumerate(rows):
        row = bytes(row)
        ftype = y % 5
        raw.append(ftype)
        raw += _filter_row(ftype, row, prev, bpp)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, int, list[bytearray]]:
    """-> (width, height, channels, scanlines). Raises ValueError on
    non-PNG input or features outside the declared subset."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = channels = -1
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if depth != 8 or color_type not in _CHANNELS:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color_type={color_type})"
                )
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
            channels = _CHANNELS[color_type]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width < 0:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG data length mismatch")
    rows: list[bytearray] = []
    prev: bytes | bytearray = bytes(stride)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        row = _unfilter_row(
            ftype, bytearray(raw[off + 1 : off + 1 + stride]), prev, channels
        )
        rows.append(row)
        prev = row
    return width, height, channels, rows
