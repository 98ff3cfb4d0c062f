"""Differential tests for the dependency-free baseline JPEG decoder
(functions/jpegpixels.py): the fixture encoder writes real entropy-coded
streams (Annex K Huffman tables, DC prediction, AC run-lengths, byte
stuffing, restart markers) and the expected pixels come from an
INDEPENDENT naive O(64^2) IDCT written here from the T.81 A.3.3 formula
— not from the decoder's own basis matrices."""

import math
import random

import numpy as np
import pytest

from tests.fixture_codecs import encode_jpeg_blocks
from warc2text_spark.functions.jpegpixels import (decode_jpeg,
                                                  encode_jpeg_flat,
                                                  jpeg_flat_size)


def _naive_idct(coef):
    """T.81 A.3.3 directly: s(y,x) = sum_uv Cu Cv /4 * S(u,v) *
    cos((2y+1)u pi/16) cos((2x+1)v pi/16); rows are vertical freq."""
    out = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (cu * cv / 4.0 * coef[u][v]
                          * math.cos((2 * y + 1) * u * math.pi / 16)
                          * math.cos((2 * x + 1) * v * math.pi / 16))
            out[y, x] = s
    return out


def _expected_gray(coef_blocks, w, h, q=16):
    nby, nbx = coef_blocks.shape[:2]
    full = np.zeros((nby * 8, nbx * 8))
    for by in range(nby):
        for bx in range(nbx):
            full[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                _naive_idct(coef_blocks[by, bx] * q) + 128.0
    return np.clip(np.round(full[:h, :w]), 0, 255).astype(np.uint8)


def test_flat_fixture_closed_form():
    for (w, h) in [(1, 1), (8, 8), (17, 5), (640, 480), (63, 1), (100, 33)]:
        b = encode_jpeg_flat(w, h)
        assert len(b) == jpeg_flat_size(w, h)
        px = decode_jpeg(b)
        assert px.shape == (h, w)
        assert (px == 128).all()


def test_dc_only_closed_form():
    # uniform per-block DC: pixel = dc * q00 / 8 + 128 = dc * 2 + 128
    rng = random.Random(11)
    nby, nbx = 3, 4
    dcs = np.array([[rng.randrange(-60, 61) for _ in range(nbx)]
                    for _ in range(nby)])
    coef = np.zeros((nby, nbx, 8, 8), dtype=np.int64)
    coef[:, :, 0, 0] = dcs
    w, h = nbx * 8 - 3, nby * 8 - 5
    px = decode_jpeg(encode_jpeg_blocks(
        [{"h": 1, "v": 1, "coef": coef}], w, h))
    assert px.shape == (h, w)
    expect = np.repeat(np.repeat(dcs * 2 + 128, 8, 0), 8, 1)[:h, :w]
    assert (px == expect).all()


@pytest.mark.parametrize("seed,restart", [(1, 0), (2, 0), (3, 2), (4, 1)])
def test_random_coefficients_match_naive_idct(seed, restart):
    rng = np.random.RandomState(seed)
    nby, nbx = 2, 3
    coef = np.zeros((nby, nbx, 8, 8), dtype=np.int64)
    # sparse-ish spectra incl. long zero runs (exercises ZRL) and
    # values up to +/-255 (multi-bit categories, potential FF stuffing)
    mask = rng.rand(nby, nbx, 8, 8) < 0.25
    coef[mask] = rng.randint(-255, 256, size=int(mask.sum()))
    coef[:, :, 7, 7] = 1  # force a full-length run path sometimes
    w, h = nbx * 8, nby * 8 - 2
    data = encode_jpeg_blocks([{"h": 1, "v": 1, "coef": coef}], w, h,
                              restart=restart)
    px = decode_jpeg(data)
    assert px is not None and px.shape == (h, w)
    assert (px == _expected_gray(coef, w, h)).all()


def test_color_444_and_420():
    rng = np.random.RandomState(9)

    def plane(nby, nbx):
        c = np.zeros((nby, nbx, 8, 8), dtype=np.int64)
        m = rng.rand(nby, nbx, 8, 8) < 0.2
        c[m] = rng.randint(-128, 129, size=int(m.sum()))
        return c

    # 4:4:4 — one block per component per MCU
    w, h = 16, 16
    comps = [{"h": 1, "v": 1, "coef": plane(2, 2)} for _ in range(3)]
    px = decode_jpeg(encode_jpeg_blocks(comps, w, h))
    assert px.shape == (h, w, 3)
    planes = [_expected_gray(c["coef"], w, h).astype(np.float64)
              for c in comps]
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    expect = np.clip(np.round(np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb], axis=-1)), 0, 255).astype(np.uint8)
    # the decoder converts on UNROUNDED planes; recompute from floats
    raw = [np.zeros((h, w)) for _ in range(3)]
    for ci, c in enumerate(comps):
        for by in range(2):
            for bx in range(2):
                raw[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    _naive_idct(c["coef"][by, bx] * 16) + 128.0
    y, cb, cr = raw[0], raw[1] - 128.0, raw[2] - 128.0
    expect = np.clip(np.round(np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb], axis=-1)), 0, 255).astype(np.uint8)
    assert (px == expect).all()

    # 4:2:0 — luma 2x2 blocks per MCU, chroma 1; nearest upsample
    w, h = 16, 16
    comps = [{"h": 2, "v": 2, "coef": plane(2, 2)},
             {"h": 1, "v": 1, "coef": plane(1, 1)},
             {"h": 1, "v": 1, "coef": plane(1, 1)}]
    px = decode_jpeg(encode_jpeg_blocks(comps, w, h))
    assert px.shape == (h, w, 3)
    yp = np.zeros((16, 16))
    for by in range(2):
        for bx in range(2):
            yp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                _naive_idct(comps[0]["coef"][by, bx] * 16) + 128.0
    cbp = np.repeat(np.repeat(
        _naive_idct(comps[1]["coef"][0, 0] * 16) + 128.0, 2, 0), 2, 1)
    crp = np.repeat(np.repeat(
        _naive_idct(comps[2]["coef"][0, 0] * 16) + 128.0, 2, 0), 2, 1)
    cb, cr = cbp - 128.0, crp - 128.0
    expect = np.clip(np.round(np.stack([
        yp + 1.402 * cr,
        yp - 0.344136 * cb - 0.714136 * cr,
        yp + 1.772 * cb], axis=-1)), 0, 255).astype(np.uint8)
    assert (px == expect).all()


def test_out_of_scope_and_garbage_return_none():
    flat = encode_jpeg_flat(16, 16)
    # progressive: flip SOF0 -> SOF2
    prog = bytearray(flat)
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    assert decode_jpeg(bytes(prog)) is None
    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"\xff\xd8\xff\xd9") is None
    assert decode_jpeg(b"not a jpeg") is None
    rng = random.Random(3)
    for _ in range(200):
        n = rng.randrange(0, 300)
        blob = bytes(rng.randrange(256) for _ in range(n))
        decode_jpeg(blob)                    # never raises
        decode_jpeg(b"\xff\xd8" + blob)      # never raises


def test_truncated_stream_keeps_decoded_prefix():
    # cut the entropy data mid-way: decoded rows stay, the rest is 0
    coef = np.zeros((4, 4, 8, 8), dtype=np.int64)
    coef[:, :, 0, 0] = 50
    full = encode_jpeg_blocks([{"h": 1, "v": 1, "coef": coef}], 32, 32)
    cut = full[:len(full) - 8]  # EOI + the tail of the entropy data
    px = decode_jpeg(cut)
    assert px is not None and px.shape == (32, 32)
    assert (px[:8] == 228).all()            # first MCU row survived
