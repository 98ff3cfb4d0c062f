"""Dependency-free BMP codec (Windows DIB, BITMAPINFOHEADER subset).

Real pixel decode for the remaining common crawl image format after
PNG/GIF/JPEG: uncompressed (BI_RGB) 24-bit truecolor and 8-bit paletted
BMPs, bottom-up and top-down row order, 4-byte row padding.  The format
is pure struct layout (Windows GDI documentation / the de-facto file
format spec) — no entropy coding — so decode is a numpy reshape.

``decode_bmp`` returns an (h, w, 3) uint8 RGB array or None (never
raises — kernel contract).
"""

from __future__ import annotations

import struct

import numpy as np

# the DIB header sizes Windows actually writes (BITMAPCOREHEADER and the
# BITMAPINFOHEADER family) — used to reject text that merely starts "BM"
_DIB_SIZES = frozenset((12, 40, 52, 56, 64, 108, 124))
_MAX_DIM = 1 << 20


def _row_stride(width: int, bpp: int) -> int:
    return ((width * bpp + 31) // 32) * 4


def parse_bmp_header(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the BITMAPINFOHEADER (height reported
    positive regardless of row order), or None."""
    try:
        if not payload.startswith(b"BM") or len(payload) < 22:
            return None
        (hdr_size,) = struct.unpack("<I", payload[14:18])
        if hdr_size not in _DIB_SIZES:
            return None       # arbitrary bytes after "BM" are not a DIB
        if hdr_size == 12:
            # BITMAPCOREHEADER: legacy, uint16 dims
            w, h = struct.unpack("<HH", payload[18:22])
            return (w, h) if w and h else None
        if len(payload) < 26:
            return None
        w, h = struct.unpack("<ii", payload[18:26])
        if w <= 0 or h == 0 or w > _MAX_DIM or abs(h) > _MAX_DIM:
            return None
        return (w, abs(h))
    except Exception:
        return None


def decode_bmp(payload: bytes):
    """(h, w, 3) uint8 RGB pixels, or None.  Supports BI_RGB 24-bit
    truecolor and 8-bit paletted images with BITMAPINFOHEADER (40+);
    anything else (RLE, 16/32-bit, core headers) returns None — honest
    edges, never raises."""
    try:
        if not payload.startswith(b"BM") or len(payload) < 54:
            return None
        (data_off,) = struct.unpack("<I", payload[10:14])
        (hdr_size,) = struct.unpack("<I", payload[14:18])
        if hdr_size not in _DIB_SIZES or hdr_size < 40:
            return None
        w, h_signed = struct.unpack("<ii", payload[18:26])
        planes, bpp = struct.unpack("<HH", payload[26:30])
        (compression,) = struct.unpack("<I", payload[30:34])
        if w <= 0 or h_signed == 0 or planes != 1 or compression != 0:
            return None
        if w > _MAX_DIM or abs(h_signed) > _MAX_DIM:
            return None
        # pixel data must start after the headers (a bogus bfOffBits
        # would silently decode header/palette bytes as pixels)
        if data_off < 14 + hdr_size or data_off > len(payload):
            return None
        if bpp not in (8, 24):
            return None
        h = abs(h_signed)
        top_down = h_signed < 0
        stride = _row_stride(w, bpp)
        data = payload[data_off:data_off + stride * h]
        if len(data) < stride * h:
            return None
        raw = np.frombuffer(data, dtype=np.uint8).reshape(h, stride)
        if not top_down:
            raw = raw[::-1]
        if bpp == 24:
            bgr = raw[:, :w * 3].reshape(h, w, 3)
            return bgr[:, :, ::-1].copy()
        # 8-bit: BGRX color table sits between header and pixel data
        (used,) = struct.unpack("<I", payload[46:50])
        n_colors = used or 256
        tab_off = 14 + hdr_size
        tab = payload[tab_off:tab_off + 4 * n_colors]
        if len(tab) < 4 * n_colors:
            return None
        pal = np.frombuffer(tab, dtype=np.uint8).reshape(-1, 4)[:, :3]
        pal_rgb = pal[:, ::-1]
        idx = raw[:, :w]
        return pal_rgb[np.minimum(idx, len(pal_rgb) - 1)].copy()
    except Exception:
        return None
