"""REAL image codecs from the stdlib — PNG, BMP (+ JPEG in
jpeg_codec.py).

The container ships no imaging libraries, but the formats a training
pipeline meets most don't need one:

- PNG: zlib (stdlib) inflates IDAT; chunk framing, scanline unfiltering
  (all 5 filter types incl. Paeth), and the critical-chunk layout are
  ~150 lines of struct arithmetic. Supports 8-bit depth, color types
  0/2/4/6 (gray, RGB, gray+alpha, RGBA), non-interlaced.
- BMP: uncompressed 24-bit BITMAPINFOHEADER, bottom-up rows padded to 4.
- JPEG: baseline sequential huffman + IDCT from the public T.81 spec
  (operators/jpeg_codec.py) — grayscale / 4:4:4 / 4:2:0.

Also includes a minimal deterministic PNG writer (filter 0 + zlib) for
fixtures.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, width: int, height: int, nch: int) -> "np.ndarray":
    """PNG scanline unfiltering (spec filters 0-4) -> HxWxC uint8."""
    stride = width * nch
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 0xFF
        elif ftype == 2:  # Up
            line = bytearray(
                (np.frombuffer(bytes(line), dtype=np.uint8) + prev).astype(np.uint8).tobytes()
            )
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - nch] if i >= nch else 0
                ul = int(prev[i - nch]) if i >= nch else 0
                line[i] = (line[i] + _paeth(left, int(prev[i]), ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad png filter type {ftype}")
        prev = np.frombuffer(bytes(line), dtype=np.uint8)
        out[y] = prev
    return out.reshape(height, width, nch)


def decode_png(payload: bytes) -> dict:
    """PNG bytes -> {width, height, n_channels, pixels: HxWxC uint8}."""
    if not payload or not payload.startswith(_PNG_SIG):
        raise ValueError("not a png (bad signature)")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("not a png (no IHDR)")
    width, height, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in _CHANNELS or comp or filt or interlace:
        raise ValueError(
            f"unsupported png (depth={depth} color={color} interlace={interlace})"
        )
    nch = _CHANNELS[color]
    raw = zlib.decompress(bytes(idat))
    expected = height * (1 + width * nch)
    if len(raw) != expected:
        raise ValueError("png data length mismatch")
    pixels = _unfilter(raw, width, height, nch)
    return {
        "width": width, "height": height, "n_channels": nch, "pixels": pixels,
    }


def encode_png(pixels: "np.ndarray") -> bytes:
    """Minimal deterministic PNG writer (filter 0, one IDAT)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[nch]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_bmp(payload: bytes) -> dict:
    """Uncompressed 24-bit BMP -> {width, height, n_channels, pixels}."""
    if not payload or not payload.startswith(b"BM"):
        raise ValueError("not a bmp")
    (offset,) = struct.unpack("<I", payload[10:14])
    (hsize,) = struct.unpack("<I", payload[14:18])
    if hsize < 40:
        raise ValueError("unsupported bmp header")
    width, height = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported bmp (bpp={bpp} compression={compression})")
    flip = height > 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    px = np.zeros((height, width, 3), dtype=np.uint8)
    for y in range(height):
        start = offset + y * row_bytes
        row = np.frombuffer(payload[start : start + width * 3], dtype=np.uint8)
        # BGR -> RGB
        px[height - 1 - y if flip else y] = row.reshape(width, 3)[:, ::-1]
    return {"width": width, "height": height, "n_channels": 3, "pixels": px}


def decode_image_bytes(payload: bytes) -> dict:
    """Dispatch by magic bytes: PNG, BMP or baseline JPEG (jpeg_codec).
    Raises ValueError for other formats."""
    if payload.startswith(_PNG_SIG):
        return decode_png(payload)
    if payload.startswith(b"BM"):
        return decode_bmp(payload)
    if payload.startswith(b"\xff\xd8"):
        from .jpeg_codec import decode_jpeg

        return decode_jpeg(payload)
    raise ValueError("unsupported image format (stdlib codecs: png, bmp, jpeg)")
