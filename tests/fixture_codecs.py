"""Fixture encoders for the pixel-decoder tests.

They write the inputs the decoders in ``warc2text_spark/functions`` are
tested against; nothing in the package calls them.

* :func:`encode_jpeg_blocks` — baseline JPEG from arbitrary quantized
  coefficient blocks, 1 or 3 components with 4:4:4 / 4:2:0-style sampling
  factors, optional restart markers.  It is the differential-test rig for
  ``jpegpixels.decode_jpeg`` (Huffman categories, DC prediction, AC
  run-lengths, byte stuffing, RSTn re-sync, chroma upsampling), not a
  production encoder.
* :func:`encode_bmp` — the canonical 54-byte-header 24-bit BMP, with the
  exact size law :func:`bmp_encoded_size`.
* :func:`png_header`, :func:`gif_header`, :func:`jpeg_header` — header-only
  images for the header parsers: PNG 33 B (signature 8 + IHDR chunk 25),
  GIF 13 B (signature 6 + screen descriptor 7), JPEG 15 B (SOI 2 + SOF0
  segment 13); :func:`gif_animated` adds real frame blocks for the GIF
  frame walker.
"""

from __future__ import annotations

import struct

import numpy as np

from warc2text_spark.functions.bmppixels import _row_stride
from warc2text_spark.functions.jpegpixels import (AC_LUM_COUNTS, AC_LUM_SYMS,
                                                  DC_LUM_COUNTS, DC_LUM_SYMS,
                                                  _ZIGZAG, _seg)


class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _enc_table(counts, symbols):
    """{symbol: (length, code)} — the encoder-side inverse of
    :func:`~warc2text_spark.functions.jpegpixels._build_huff` over the same canonical ordering."""
    enc = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            enc[symbols[k]] = (ln, code)
            code += 1
            k += 1
        code <<= 1
    return enc


def _write_coded(bw: _BitWriter, val: int, dc: bool, enc, run: int = 0):
    t = abs(val).bit_length()
    sym = t if dc else ((run << 4) | t)
    ln, code = enc[sym]
    bw.write(code, ln)
    if t:
        bw.write(val if val >= 0 else val + (1 << t) - 1, t)


def encode_jpeg_blocks(comps, w: int, h: int, restart: int = 0) -> bytes:
    """Baseline JPEG from explicit quantized coefficients.

    ``comps`` is a list of 1 or 3 dicts ``{"h": int, "v": int, "coef":
    ndarray[(mcuy*v, mcux*h, 8, 8)] int}`` — natural (row-major)
    coefficient order, already quantized against the all-16 table this
    encoder emits.  Annex K luminance Huffman tables are shared by every
    component; chroma therefore selects table 0 too (legal — table ids
    are per-scan selectors, T.81 B.2.3)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    nc = len(comps)
    out = [b"\xff\xd8",
           _seg(0xDB, b"\x00" + bytes([16] * 64)),
           _seg(0xC0, b"\x08" + struct.pack(">HH", h, w) + bytes([nc])
                + b"".join(bytes([ci + 1, (c["h"] << 4) | c["v"], 0])
                           for ci, c in enumerate(comps))),
           _seg(0xC4, b"\x00" + DC_LUM_COUNTS + DC_LUM_SYMS),
           _seg(0xC4, b"\x10" + AC_LUM_COUNTS + AC_LUM_SYMS)]
    if restart:
        out.append(_seg(0xDD, struct.pack(">H", restart)))
    out.append(_seg(0xDA, bytes([nc])
                    + b"".join(bytes([ci + 1, 0x00])
                               for ci in range(nc))
                    + bytes([0, 63, 0])))
    dc_enc = _enc_table(DC_LUM_COUNTS, DC_LUM_SYMS)
    ac_enc = _enc_table(AC_LUM_COUNTS, AC_LUM_SYMS)
    preds = [0] * nc
    bw = _BitWriter()
    rst = 0
    for mcu in range(mcux * mcuy):
        if restart and mcu and mcu % restart == 0:
            bw.flush()
            out.append(bytes(bw.out))
            bw = _BitWriter()
            out.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            preds = [0] * nc
        my, mx = divmod(mcu, mcux)
        for ci, c in enumerate(comps):
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coef = np.asarray(
                        c["coef"][my * c["v"] + by, mx * c["h"] + bx]
                    ).reshape(64)[_ZIGZAG]
                    _write_coded(bw, int(coef[0]) - preds[ci], True, dc_enc)
                    preds[ci] = int(coef[0])
                    nz = np.nonzero(coef[1:])[0]
                    k = 0
                    for pos in nz:
                        run = int(pos) - k
                        while run > 15:
                            bw.write(*reversed(ac_enc[0xF0]))  # ZRL
                            run -= 16
                        _write_coded(bw, int(coef[1 + pos]), False,
                                     ac_enc, run)
                        k = int(pos) + 1
                    if k < 63:
                        bw.write(*reversed(ac_enc[0x00]))  # EOB
    bw.flush()
    out.append(bytes(bw.out))
    out.append(b"\xff\xd9")
    return b"".join(out)


def bmp_encoded_size(width: int, height: int) -> int:
    """Exact ``len(encode_bmp(...))`` for an (h, w, 3) array."""
    return 54 + _row_stride(width, 24) * height


def encode_bmp(arr: np.ndarray) -> bytes:
    """Canonical bottom-up 24-bit BI_RGB BMP from ``uint8 [h, w, 3]``
    (RGB in, stored as BGR per the format)."""
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, _ = arr.shape
    stride = _row_stride(w, 24)
    pad = stride - w * 3
    rows = []
    bgr = arr[:, :, ::-1]
    for y in range(h - 1, -1, -1):          # bottom-up
        rows.append(bgr[y].tobytes() + b"\x00" * pad)
    data = b"".join(rows)
    header = (b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(data), 2835, 2835, 0, 0))
    return header + data


def png_header(w: int, h: int) -> bytes:
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr
            + b"\x00\x00\x00\x00")  # CRC not validated by the parser


def gif_header(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"


def gif_animated(w: int, h: int, n_frames: int, sub_size: int) -> bytes:
    """Animated GIF: header + per frame a graphic-control extension
    (8 B), an image descriptor (10 B incl. the 0x2C introducer), the LZW
    min-code byte and one data sub-block of ``sub_size`` bytes + the 0x00
    terminator, then the 0x3B trailer.  Frame slice = 13 + sub_size,
    total = 14 + n_frames * (21 + sub_size)."""
    out = [gif_header(w, h)]
    for f in range(n_frames):
        out.append(b"\x21\xf9\x04" + bytes([0, 10, 0, 0]) + b"\x00")
        out.append(b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00")
        out.append(b"\x02")
        out.append(bytes([sub_size])
                   + bytes((f + k) % 251 for k in range(sub_size))
                   + b"\x00")
    out.append(b"\x3b")
    return b"".join(out)


def jpeg_header(w: int, h: int) -> bytes:
    sof0 = struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) \
        + b"\x01\x01\x11\x00"
    return b"\xff\xd8\xff\xc0" + sof0
