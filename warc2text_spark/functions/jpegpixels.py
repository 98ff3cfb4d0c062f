"""Dependency-free baseline JPEG decoder (r6): the last image format's
pixels made real — no Pillow, no libjpeg.

Scope (never raises — kernel contract): baseline sequential DCT (SOF0),
8-bit precision, Huffman entropy coding (arbitrary DHT tables), 1- and
3-component images (grayscale / YCbCr at 4:4:4, 4:2:2 or 4:2:0 with
nearest-neighbor chroma upsampling), restart markers, 0xFF00 byte
stuffing.  Progressive (SOF2), arithmetic coding and 12-bit input return
None and callers fall back to the labeled fake twins.

IDCT is the exact float64 separable 2-D DCT-III (basis-matrix products),
``round`` then clamp to 0..255 — for DC-only blocks the output is the
closed form ``clamp(round(DC * q00 / 8 + 128))`` on every pixel, which
is what the driver fixture exploits (analytic oracle, no reference
decoder needed in this sandbox)."""

from __future__ import annotations

import struct

import numpy as np

_B = None  # 8x8 DCT-III basis, built lazily


def _basis():
    global _B
    if _B is None:
        u = np.arange(8)
        c = np.where(u == 0, 1 / np.sqrt(2.0), 1.0)
        _Bm = (c[:, None] / 2.0) * np.cos(
            (2 * u[None, :] + 1) * u[:, None] * np.pi / 16.0)
        _B = _Bm
    return _B


def _idct2(coef: np.ndarray) -> np.ndarray:
    b = _basis()
    return b.T @ coef @ b


class _Bits:
    """MSB-first bit reader over entropy-coded data with FF00 stuffing;
    stops (raises _Marker) at any real marker."""

    __slots__ = ("d", "pos", "acc", "n")

    def __init__(self, d: bytes, pos: int):
        self.d = d
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            d = self.d
            p = self.pos
            if p >= len(d):
                raise _Marker(None)
            byte = d[p]
            p += 1
            if byte == 0xFF:
                if p >= len(d):
                    raise _Marker(None)
                nxt = d[p]
                if nxt == 0x00:
                    p += 1
                else:
                    raise _Marker(nxt)
            self.d = d
            self.pos = p
            self.acc = byte
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


class _Marker(Exception):
    def __init__(self, code):
        self.code = code


def _build_huff(counts, symbols):
    """{(length, code): symbol} canonical JPEG table."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            table[(ln, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(bits: _Bits, table) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | bits.bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise _Marker(None)  # invalid code


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])


def decode_jpeg(payload: bytes):
    """(h, w) uint8 grayscale or (h, w, 3) uint8 RGB, or None."""
    try:
        return _decode(payload)
    except Exception:
        return None


def _decode(d: bytes):
    if not d.startswith(b"\xff\xd8"):
        return None
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps = None
    w = h = 0
    restart = 0
    i = 2
    n = len(d)
    while i + 4 <= n:
        if d[i] != 0xFF:
            return None
        while i + 1 < n and d[i + 1] == 0xFF:
            i += 1
        m = d[i + 1]
        if m == 0xD9:  # EOI before SOS
            return None
        (ln,) = struct.unpack(">H", d[i + 2:i + 4])
        seg = d[i + 4:i + 2 + ln]
        if m == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq != 0:
                    return None  # 16-bit tables: out of scope
                qt[tq] = np.frombuffer(seg[p:p + 64],
                                       dtype=np.uint8).astype(np.int32)
                p += 64
        elif m == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = seg[p + 1:p + 17]
                total = sum(counts)
                syms = seg[p + 17:p + 17 + total]
                (huff_dc if tc == 0 else huff_ac)[th] = \
                    _build_huff(counts, syms)
                p += 17 + total
        elif m == 0xC0 or m == 0xC1:  # SOF0/1 baseline
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8 or nc not in (1, 3) or not w or not h:
                return None
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
        elif 0xC2 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
            return None  # progressive / arithmetic: out of scope
        elif m == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", seg[:2])
        elif m == 0xDA:  # SOS
            if comps is None:
                return None
            ns = seg[0]
            sel = {}
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                sel[cid] = (tt >> 4, tt & 15)
            return _scan(d, i + 2 + ln, comps, sel, qt,
                         huff_dc, huff_ac, w, h, restart)
        i += 2 + ln
    return None


def _scan(d, pos, comps, sel, qt, huff_dc, huff_ac, w, h, restart):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not (1 <= hmax <= 2 and 1 <= vmax <= 2):
        return None
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        cw, ch = mcux * c["h"] * 8, mcuy * c["v"] * 8
        planes.append(np.zeros((ch, cw), dtype=np.float64))
        dc_t, ac_t = sel[c["id"]]
        c["dc"] = huff_dc[dc_t]
        c["ac"] = huff_ac[ac_t]
        c["q"] = qt[c["tq"]]
        c["pred"] = 0
    bits = _Bits(d, pos)
    n_mcu = mcux * mcuy
    mcu = 0
    try:
        while mcu < n_mcu:
            if restart and mcu and mcu % restart == 0:
                # re-align to the RSTn marker at a byte boundary
                bits.n = 0
                p = bits.pos
                while p + 1 < len(d) and not (
                        d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
                    p += 1
                if p + 1 >= len(d):
                    break
                bits.pos = p + 2
                for c in comps:
                    c["pred"] = 0
            my, mx = divmod(mcu, mcux)
            for ci, c in enumerate(comps):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        t = _huff_decode(bits, c["dc"])
                        diff = _extend(bits.bits(t), t) if t else 0
                        c["pred"] += diff
                        coef = np.zeros(64, dtype=np.int32)
                        coef[0] = c["pred"]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(bits, c["ac"])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                break
                            coef[k] = _extend(bits.bits(s), s)
                            k += 1
                        if not coef[1:].any():
                            # DC-only block: IDCT is the constant
                            # DC*q00/8 (exact — basis row 0 is 1/(2*sqrt2))
                            px = np.full(
                                (8, 8), coef[0] * c["q"][0] / 8.0 + 128.0)
                        else:
                            block = np.zeros(64, dtype=np.float64)
                            block[_ZIGZAG] = coef * c["q"]
                            px = _idct2(block.reshape(8, 8)) + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = px
            mcu += 1
    except _Marker:
        pass  # truncated / EOI mid-scan: keep what was decoded
    out = []
    for c, pl in zip(comps, planes):
        # nearest-neighbor upsample to full resolution, crop
        pl = np.repeat(np.repeat(pl, vmax // c["v"], axis=0),
                       hmax // c["h"], axis=1)[:h, :w]
        out.append(pl)
    if len(out) == 1:
        g = np.clip(np.round(out[0]), 0, 255).astype(np.uint8)
        return g
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- Annex K standard tables + the DC-only fixture encoder --------------

DC_LUM_COUNTS = bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0])
DC_LUM_SYMS = bytes(range(12))
AC_LUM_COUNTS = bytes([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D])
AC_LUM_SYMS = bytes([
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) \
        + payload


def encode_jpeg_flat(w: int, h: int) -> bytes:
    """REAL baseline grayscale JPEG of a uniform mid-gray (all DC diffs
    0): every block codes as '00' (DC category 0) + '1010' (EOB) = 6
    bits, a cyclic pattern that can never produce a 0xFF byte (so no
    stuffing) and whose final data bit is always 0 (so 1-padding can
    never produce 0xFF either) — the byte size is exactly

        312 + ceil(6 * ceil(w/8) * ceil(h/8) / 8)

    (jpeg_flat_size), decoded pixel value 128 everywhere.  This is the
    closed form the driver oracle states in SQL."""
    nb = -(-w // 8) * -(-h // 8)
    out = [b"\xff\xd8",
           _seg(0xDB, b"\x00" + bytes([16] * 64)),
           _seg(0xC0, b"\x08" + struct.pack(">HH", h, w)
                + b"\x01" + bytes([1, 0x11, 0])),
           _seg(0xC4, b"\x00" + DC_LUM_COUNTS + DC_LUM_SYMS),
           _seg(0xC4, b"\x10" + AC_LUM_COUNTS + AC_LUM_SYMS),
           _seg(0xDA, b"\x01" + bytes([1, 0x00]) + bytes([0, 63, 0]))]
    total_bits = 6 * nb
    nbytes = (total_bits + 7) // 8
    data = bytearray(nbytes)
    # pattern 001010 repeating, MSB-first; pad bits are 1s
    acc = 0
    filled = 0
    bi = 0
    pat = (0, 0, 1, 0, 1, 0)
    for k in range(total_bits):
        acc = (acc << 1) | pat[k % 6]
        filled += 1
        if filled == 8:
            data[bi] = acc
            bi += 1
            acc = 0
            filled = 0
    if filled:
        data[bi] = (acc << (8 - filled)) | ((1 << (8 - filled)) - 1)
    out.append(bytes(data))
    out.append(b"\xff\xd9")
    return b"".join(out)


def jpeg_flat_size(w: int, h: int) -> int:
    nb = -(-w // 8) * -(-h // 8)
    return 312 + (6 * nb + 7) // 8
