"""Dependency-free PNG codec (functions/pngpixels.py): round-trips, all
five scanline filters differentially vs a direct reference filterer, the
closed-form size law the driver oracle mirrors, nearest-neighbor resize
semantics, and the never-raise malformed contract."""

import struct
import zlib

import numpy as np

from warc2text_spark.functions.pngpixels import (decode_png, encode_png,
                                                 png_encoded_size,
                                                 resize_dims, resize_nearest)


def _rng(seed=7):
    return np.random.default_rng(seed)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    body = ctype + data
    return (struct.pack(">I", len(data)) + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))


def _encode_filtered(arr: np.ndarray, ftype: int) -> bytes:
    """Reference encoder applying ONE filter type to every scanline,
    written directly from ISO/IEC 15948 §9 (the spec's defining
    equations, independent of the decoder under test)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    flat = arr.reshape(h, w * ch).astype(np.int32)
    prev = np.zeros(w * ch, dtype=np.int32)
    out = []
    for y in range(h):
        line = flat[y]
        filt = np.empty(w * ch, dtype=np.int32)
        for x in range(w * ch):
            a = int(line[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (
                    b if pb <= pc else c)
            filt[x] = (int(line[x]) - pred) & 0xFF
        out.append(bytes([ftype]) + bytes(filt.astype(np.uint8)))
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"".join(out)))
            + _chunk(b"IEND", b""))


def test_roundtrip_all_channel_counts():
    r = _rng()
    for ch in (1, 2, 3, 4):
        arr = r.integers(0, 256, size=(11, 7, ch), dtype=np.uint8)
        decoded = decode_png(encode_png(arr))
        assert decoded is not None
        out, palette = decoded
        assert palette is None
        np.testing.assert_array_equal(out, arr)


def test_all_five_filters_decode_correctly():
    r = _rng(3)
    for ch in (1, 3):
        arr = r.integers(0, 256, size=(9, 13, ch), dtype=np.uint8)
        for ftype in range(5):
            decoded = decode_png(_encode_filtered(arr, ftype))
            assert decoded is not None, ftype
            np.testing.assert_array_equal(decoded[0], arr,
                                          err_msg=f"filter {ftype} ch {ch}")


def test_palette_plane_and_plte():
    # color type 3: index plane + palette returned, not dereferenced
    idx = _rng(5).integers(0, 4, size=(6, 5, 1), dtype=np.uint8)
    h, w = 6, 5
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    plte = bytes(range(12))
    png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
           + _chunk(b"PLTE", plte) + _chunk(b"IDAT", zlib.compress(raw))
           + _chunk(b"IEND", b""))
    out, palette = decode_png(png)
    np.testing.assert_array_equal(out, idx)
    np.testing.assert_array_equal(palette,
                                  np.frombuffer(plte, np.uint8).reshape(4, 3))


def test_size_law_matches_formula():
    r = _rng(11)
    for h, w, ch in ((1, 1, 1), (480, 640, 1), (3, 200, 3), (70, 311, 4),
                     (500, 140, 1)):
        arr = r.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        assert len(encode_png(arr)) == png_encoded_size(w, h, ch), (h, w, ch)
    # multi-stored-block case: D > 65535
    big = r.integers(0, 256, size=(300, 400, 1), dtype=np.uint8)
    assert 300 * 401 > 65535
    assert len(encode_png(big)) == png_encoded_size(400, 300, 1)


def test_resize_dims_and_nearest():
    assert resize_dims(100, 50, 256) == (100, 50)        # no upscale
    assert resize_dims(640, 480, 256) == (256, 192)
    assert resize_dims(480, 640, 256) == (192, 256)
    assert resize_dims(10000, 3, 256) == (256, 1)        # floor >= 1
    grad = np.arange(8, dtype=np.uint8).reshape(1, 8).repeat(4, axis=0)
    out = resize_nearest(grad, 4)
    # source index floor(i * 8 / 4) = 0, 2, 4, 6
    np.testing.assert_array_equal(out[0], [0, 2, 4, 6])
    assert out.shape == (2, 4)


def test_striped_fixture_mean_is_closed_form():
    """The driver fixture's striped PNG: decoded mean equals the SQL
    oracle's avg((id + y) % 256) closed form."""
    from warc2text_spark.plans.spansgen import _png_striped
    for n in (0, 17, 123, 479):
        w, h = 1 + n % 640, 1 + n % 480
        png = _png_striped(w, h, n)
        assert len(png) == png_encoded_size(w, h, 1)
        arr, _ = decode_png(png)
        assert arr.shape == (h, w, 1)
        expect = sum((n + y) % 256 for y in range(h)) / h
        assert float(arr.mean()) == expect


def test_malformed_never_raises():
    r = _rng(13)
    arr = r.integers(0, 256, size=(5, 5, 1), dtype=np.uint8)
    good = encode_png(arr)
    cases = [b"", b"\x89PNG\r\n\x1a\n", good[:20], good[:40],
             b"\x89PNG\r\n\x1a\n" + b"\x00" * 40,
             good.replace(b"IDAT", b"IDAX"),
             # interlaced flag -> unsupported, None (honest edge)
             good[:28] + b"\x01" + good[29:],
             # 16-bit depth -> unsupported
             good[:24] + b"\x10" + good[25:]]
    for bad in cases:
        assert decode_png(bad) is None
    # tolerant edge: a stream truncated INSIDE the trailing IEND crc
    # still decodes (all pixel data present) — documented, not an error
    assert decode_png(good[:-4]) is not None
    # fuzz: random corruption never raises
    buf = bytearray(good)
    for _ in range(200):
        i = int(r.integers(0, len(buf)))
        b0 = buf[i]
        buf[i] = int(r.integers(0, 256))
        decode_png(bytes(buf))
        buf[i] = b0


def test_resize_stub_real_png_path():
    """operators/multimodal routes PNG payloads through the real codec:
    resized output is itself a decodable PNG at the capped dims with the
    closed-form size."""
    from warc2text_spark.operators.multimodal import (_decode_image_stub,
                                                      _resize_image_stub)
    col = (np.arange(480) % 256).astype(np.uint8)
    arr = np.repeat(col[:, None], 640, axis=1)
    png = encode_png(arr)
    out = _resize_image_stub(png, 256)
    assert len(out) == png_encoded_size(256, 192, 1)
    rarr, _ = decode_png(out)
    np.testing.assert_array_equal(rarr[:, :, 0],
                                  resize_nearest(arr, 256))
    feats = _decode_image_stub(png)
    assert feats["px_mean"] == round(float(arr.mean()), 4)
    a64 = arr.astype(np.float64)
    assert feats["px_rms"] == round(float(np.sqrt((a64 * a64).mean())), 4)
    assert feats["width"] == 640 and feats["height"] == 480
    # non-PNG keeps the fake twin and the sentinel
    fake = _decode_image_stub(b"IMG42")
    assert fake["px_mean"] == -1.0 and fake["px_rms"] == -1.0

def test_resize_palette_png_dereferences_colors():
    """Review r6: resizing a palette (color type 3) PNG must dereference
    the palette to RGB first — re-encoding the index plane as grayscale
    scrambles colors."""
    import struct
    import zlib as _z

    from warc2text_spark.operators.multimodal import _resize_image_stub

    h, w = 8, 6
    idx = (np.arange(h * w, dtype=np.uint8) % 3).reshape(h, w, 1)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B
    png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
           + _chunk(b"PLTE", plte) + _chunk(b"IDAT", _z.compress(raw))
           + _chunk(b"IEND", b""))
    out = _resize_image_stub(png, 4)
    arr, pal = decode_png(out)
    assert pal is None and arr.shape[2] == 3  # RGB now, not indices
    # every output pixel is one of the three palette colors
    colors = {tuple(px) for row in arr for px in row}
    assert colors <= {(255, 0, 0), (0, 255, 0), (0, 0, 255)}


def test_wav_parse_roundtrip_and_malformed():
    """Real WAV PCM decode (functions/wavaudio.py): encode/parse
    round-trip for 8- and 16-bit, exact byte-size law, chunk-walk
    tolerance (extra chunks, odd-length padding), and the never-raise
    malformed contract."""
    from warc2text_spark.functions.wavaudio import encode_wav, parse_wav
    import struct

    s8 = ((np.arange(500) * 7) % 256).astype(np.uint8)
    wav = encode_wav(s8, sample_rate=8000)
    assert len(wav) == 44 + 500
    p = parse_wav(wav)
    assert p["sample_rate"] == 8000 and p["channels"] == 1
    assert p["bits"] == 8 and p["n_samples"] == 500
    assert p["mean"] == float(s8.astype(np.float64).mean())
    s16 = ((np.arange(300) * 97) % 65536 - 32768).astype(np.int16)
    p16 = parse_wav(encode_wav(s16, sample_rate=44100))
    assert p16["bits"] == 16 and p16["n_samples"] == 300
    assert p16["mean"] == float(s16.astype(np.float64).mean())
    # extra LIST chunk before fmt, odd-length chunk padding
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"
    tolerant = wav[:12] + extra + wav[12:]
    tolerant = tolerant[:4] + struct.pack(
        "<I", len(tolerant) - 8) + tolerant[8:]
    assert parse_wav(tolerant)["n_samples"] == 500
    # malformed: never raises, returns None
    for bad in (b"", b"RIFF", b"RIFF\x00\x00\x00\x00WAVE",
                wav[:20], wav.replace(b"data", b"datx"),
                wav.replace(b"fmt ", b"fmtx"),
                encode_wav(s8)[:44],   # header, no samples
                b"RIFFxxxxAVI LIST"):
        assert parse_wav(bad) is None
    # unsupported: float PCM (format 3)
    f32 = bytearray(wav)
    f32[20:22] = struct.pack("<H", 3)
    assert parse_wav(bytes(f32)) is None


def test_decode_stub_wav_feature():
    from warc2text_spark.functions.wavaudio import encode_wav
    from warc2text_spark.operators.multimodal import _decode_image_stub
    s = ((np.arange(100) + 42) % 256).astype(np.uint8)
    f = _decode_image_stub(bytes(encode_wav(s)))
    assert f["media_type"] == "audio/wav"
    assert f["width"] == 0 and f["height"] == 0
    f64 = s.astype(np.float64)
    assert f["px_mean"] == round(float(f64.mean()), 4)
    assert f["px_rms"] == round(float(np.sqrt((f64 * f64).mean())), 4)


def test_gif_lzw_codec():
    """GIF LZW decoder (functions/giflzw.py): literal-encode round trip
    at several code sizes, a REAL compressed stream with dictionary
    growth + the KwKwK case (hand-built codes), width-bump behavior,
    and the never-raise malformed contract."""
    from warc2text_spark.functions.giflzw import (lzw_decode,
                                                  lzw_literal_encode)
    rng = np.random.default_rng(3)
    for m in (2, 4, 7):
        for n in (0, 1, 5, (1 << m) - 2, 200, 500):
            idx = bytes(rng.integers(0, 1 << m, size=n, dtype=np.uint8))
            assert lzw_decode(lzw_literal_encode(idx, m), m) == idx, (m, n)
    # hand-built compressed stream, min code size 2 (clear=4, end=5):
    # codes [4, 1, 6, 1, 5] -> "1" then KwKwK code 6 = "11" then "1"
    def pack(codes, m):
        width = m + 1
        acc = nbits = 0
        out = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    assert lzw_decode(pack([4, 1, 6, 1, 5], 2), 2) == b"\x01\x01\x01\x01"
    # dictionary reuse: [clear, 0, 1, 6, 5] -> "0", "1", then code 6 =
    # "01" (the first dynamic entry)
    assert lzw_decode(pack([4, 0, 1, 6, 5], 2), 2) == b"\x00\x01\x00\x01"
    # out-of-range dynamic code -> corrupt -> None
    assert lzw_decode(pack([4, 1, 7, 5], 2), 2) is None
    # truncated stream returns the decoded prefix, never raises
    enc = lzw_literal_encode(b"\x01\x02\x03" * 50, 7)
    assert lzw_decode(enc[:10], 7) is not None
    for _ in range(100):
        blob = bytes(rng.integers(0, 256, size=rng.integers(0, 60)))
        lzw_decode(blob, int(rng.integers(1, 12)))  # never raises


def test_gif_real_fixture_pixels_and_first_frame():
    from warc2text_spark.operators.multimodal import (_decode_image_stub,
                                                      gif_first_frame_pixels)
    from tests.fixture_codecs import gif_animated
    from warc2text_spark.plans.spansgen import _gif_real
    g = _gif_real(640, 480, 3, 123)
    rgb = gif_first_frame_pixels(g)
    npx = 10 * (1 + 123 % 8)
    assert rgb.shape == (npx // 10, 10, 3)
    expect = np.array([(123 + j) % 128 for j in range(npx)])
    assert (rgb[:, :, 0].reshape(-1) == expect).all()
    assert (rgb[:, :, 1] == rgb[:, :, 0]).all()  # gray palette
    f = _decode_image_stub(g)
    assert f["px_mean"] == round(float(expect.mean()), 4)
    # the structural fake-LZW twin still parses as frames but yields no
    # pixels -> sentinel (honest fallback)
    fake = gif_animated(20, 10, 2, 3)
    assert gif_first_frame_pixels(fake) is None
    assert _decode_image_stub(fake)["px_mean"] == -1.0


def test_resize_gif_real_path():
    """GIF thumbnails take the real route (r6): first frame LZW-decoded,
    palette-dereferenced, resized, re-encoded as RGB PNG — size is
    png_encoded_size(w2, h2, 3) and the pixels round-trip; the
    undecodable fake-LZW twin falls back to the pad/truncate stub."""
    from warc2text_spark.operators.multimodal import (_resize_image_stub,
                                                      gif_first_frame_pixels)
    from tests.fixture_codecs import gif_animated
    from warc2text_spark.plans.spansgen import _gif_real
    g = _gif_real(640, 480, 2, 37)
    rgb = gif_first_frame_pixels(g)       # (h2, 10, 3), h2 = 1 + 37 % 8
    out = _resize_image_stub(g, 256)      # under max_dim: no resample
    assert len(out) == png_encoded_size(rgb.shape[1], rgb.shape[0], 3)
    rarr, pal = decode_png(out)
    assert pal is None
    np.testing.assert_array_equal(rarr, rgb)
    # downscale branch: cap at 4 -> (4, ceil-free floor dims)
    small = _resize_image_stub(g, 4)
    w2, h2 = resize_dims(rgb.shape[1], rgb.shape[0], 4)
    assert len(small) == png_encoded_size(w2, h2, 3)
    # undecodable GIF falls back to the labeled fake twin
    fake = gif_animated(20, 10, 2, 3)
    out_fake = _resize_image_stub(fake, 256)
    assert len(out_fake) == min(len(fake), 256 * 4)


def test_bmp_codec_roundtrip_and_variants():
    """Dependency-free BMP decode (functions/bmppixels.py): 24-bit
    round-trip with row padding, top-down row order, 8-bit palette
    dereference, the closed-form size law, and never-raise malformed
    contract."""
    from tests.fixture_codecs import bmp_encoded_size, encode_bmp
    from warc2text_spark.functions.bmppixels import (decode_bmp,
                                                     parse_bmp_header)
    r = _rng(21)
    for h, w in ((1, 1), (5, 3), (7, 4), (9, 13)):   # odd widths: padding
        arr = r.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        bmp = encode_bmp(arr)
        assert len(bmp) == bmp_encoded_size(w, h)
        assert parse_bmp_header(bmp) == (w, h)
        out = decode_bmp(bmp)
        np.testing.assert_array_equal(out, arr)
    # top-down: negative height, rows stored first-to-last
    arr = r.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    bmp = bytearray(encode_bmp(arr[::-1]))  # encoder wrote bottom-up of flipped
    bmp[22:26] = struct.pack("<i", -4)
    out = decode_bmp(bytes(bmp))
    np.testing.assert_array_equal(out, arr[::-1][::-1])  # == arr flipped back
    # 8-bit palette image built by hand
    h, w = 3, 6
    stride = ((w * 8 + 31) // 32) * 4
    idx = (np.arange(h * w, dtype=np.uint8) % 4).reshape(h, w)
    rows = b"".join(idx[y].tobytes() + b"\x00" * (stride - w)
                    for y in range(h - 1, -1, -1))
    pal = b"".join(bytes([b, g, rr, 0]) for rr, g, b in
                   ((255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)))
    off = 54 + len(pal)
    hdr = (b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                         len(rows), 0, 0, 4, 0))
    out = decode_bmp(hdr + pal + rows)
    assert out.shape == (h, w, 3)
    assert tuple(out[0, 0]) == (255, 0, 0) and tuple(out[0, 1]) == (0, 255, 0)
    # malformed: never raises
    good = encode_bmp(arr)
    for bad in (b"", b"BM", good[:30], good[:53],
                good.replace(b"BM", b"BX"),
                good[:30] + struct.pack("<I", 1) + good[34:],  # RLE
                good[:100]):
        decode_bmp(bad)  # no raise; most return None
    assert decode_bmp(good[:40]) is None


def test_bmp_multimodal_integration():
    """BMP routes through the real decode/resize paths in
    operators/multimodal: stats from real pixels, PNG thumbnail with
    the closed-form size."""
    from tests.fixture_codecs import encode_bmp
    from warc2text_spark.operators.multimodal import (_decode_image_stub,
                                                      _resize_image_stub,
                                                      sniff_media_type)
    col = (np.arange(300) % 256).astype(np.uint8)
    arr = np.repeat(np.repeat(col[:, None], 400, axis=1)[:, :, None],
                    3, axis=2)
    bmp = encode_bmp(arr)
    assert sniff_media_type(bmp) == "image/bmp"
    f = _decode_image_stub(bmp)
    a64 = arr.astype(np.float64)
    assert (f["width"], f["height"]) == (400, 300)
    assert f["px_mean"] == round(float(a64.mean()), 4)
    assert f["px_rms"] == round(float(np.sqrt((a64 * a64).mean())), 4)
    out = _resize_image_stub(bmp, 256)
    assert len(out) == png_encoded_size(256, 192, 3)
    rarr, _ = decode_png(out)
    np.testing.assert_array_equal(rarr, resize_nearest(arr, 256))


def test_bmp_magic_requires_structural_header():
    """Review r6: the 2-byte 'BM' magic must not claim ordinary text —
    sniff and header parse require a structurally valid DIB header
    (known header size, sane dims, data offset past the headers)."""
    from tests.fixture_codecs import encode_bmp
    from warc2text_spark.functions.bmppixels import (decode_bmp,
                                                     parse_bmp_header)
    from warc2text_spark.operators.multimodal import (_decode_image_stub,
                                                      sniff_media_type)
    text = b"BMW cars are great and this is just prose, not a bitmap."
    assert sniff_media_type(text) == "application/octet-stream"
    assert parse_bmp_header(text) is None
    assert decode_bmp(text + b"\x00" * 64) is None
    f = _decode_image_stub(text)
    assert f["media_type"] == "application/octet-stream"
    assert f["px_mean"] == -1.0            # fake-twin dims, sentinel stats
    # bogus bfOffBits pointing into the header: honest None, not
    # header bytes decoded as pixels
    good = bytearray(encode_bmp(np.zeros((4, 4, 3), dtype=np.uint8)))
    import struct as _st
    good[10:14] = _st.pack("<I", 0)
    assert decode_bmp(bytes(good)) is None


def test_bmp_fuzz_never_raises():
    from tests.fixture_codecs import encode_bmp
    from warc2text_spark.functions.bmppixels import (decode_bmp,
                                                     parse_bmp_header)
    r = _rng(29)
    good = encode_bmp(r.integers(0, 256, size=(6, 7, 3), dtype=np.uint8))
    buf = bytearray(good)
    for _ in range(300):
        i = int(r.integers(0, len(buf)))
        b0 = buf[i]
        buf[i] = int(r.integers(0, 256))
        decode_bmp(bytes(buf))
        parse_bmp_header(bytes(buf))
        buf[i] = b0
    # random garbage with the magic
    for n in (2, 13, 14, 22, 54, 200):
        junk = b"BM" + bytes(r.integers(0, 256, size=n, dtype=np.uint8))
        decode_bmp(junk)
        parse_bmp_header(junk)
