"""AVI RIFF container walk + MJPEG first-frame decode
(functions/aviriff.py) and its multimodal wiring: the video modality's
real decode path."""

import random
import struct

import numpy as np

from warc2text_spark.functions.aviriff import (avi_mjpeg_size,
                                               build_avi_mjpeg,
                                               first_frame_pixels,
                                               parse_avi)
from tests.fixture_codecs import encode_jpeg_blocks
from warc2text_spark.functions.jpegpixels import (encode_jpeg_flat,
                                                  jpeg_flat_size)


def test_round_trip_closed_form_size():
    for (w, h, nf) in [(8, 8, 1), (16, 24, 4), (32, 8, 5), (24, 16, 2)]:
        frames = [encode_jpeg_flat(w, h)] * nf
        avi = build_avi_mjpeg(frames, w, h)
        assert len(avi) == avi_mjpeg_size(jpeg_flat_size(w, h), nf)
        p = parse_avi(avi)
        assert (p["width"], p["height"], p["n_frames"]) == (w, h, nf)
        assert p["handler"] == b"MJPG"
        assert [len(f) for f in p["frames"]] == [len(frames[0])] * nf
        px = first_frame_pixels(avi)
        assert px.shape == (h, w) and (px == 128).all()


def test_nonuniform_frames_decode_independently():
    # frame 0 carries real AC coefficients; frame 1 is flat — each 00dc
    # chunk must decode standalone (no cross-frame state)
    rng = np.random.RandomState(4)
    coef = np.zeros((1, 2, 8, 8), dtype=np.int64)
    coef[0, 0, 0, 0] = 10
    coef[0, 1, 2, 3] = -40
    f0 = encode_jpeg_blocks([{"h": 1, "v": 1, "coef": coef}], 16, 8)
    f1 = encode_jpeg_flat(16, 8)
    avi = build_avi_mjpeg([f0, f1], 16, 8)
    p = parse_avi(avi)
    assert len(p["frames"]) == 2 and p["frames"][0] == f0
    from warc2text_spark.functions.jpegpixels import decode_jpeg
    px0 = first_frame_pixels(avi)
    assert (px0 == decode_jpeg(f0)).all()
    assert not (px0 == 128).all()
    assert (decode_jpeg(p["frames"][1]) == 128).all()


def test_word_alignment_pad():
    # odd frame sizes force the RIFF pad byte; the walk must skip it
    odd = encode_jpeg_flat(9, 9)  # 4 blocks -> 3 entropy bytes -> 315 odd
    assert len(odd) % 2 == 1
    avi = build_avi_mjpeg([odd] * 3, 9, 9)
    assert len(avi) == avi_mjpeg_size(len(odd), 3)
    p = parse_avi(avi)
    assert [len(f) for f in p["frames"]] == [len(odd)] * 3


def test_malformed_never_raises():
    rng = random.Random(13)
    good = build_avi_mjpeg([encode_jpeg_flat(8, 8)], 8, 8)
    for _ in range(300):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
        assert parse_avi(blob) is None or True
        parse_avi(b"RIFF" + blob)
        first_frame_pixels(b"RIFF" + blob)
    # truncations of a real file
    for cut in range(0, len(good), 97):
        parse_avi(good[:cut])
        first_frame_pixels(good[:cut])
    # non-AVI RIFF
    assert parse_avi(b"RIFF\x04\x00\x00\x00WAVE") is None


def test_sniff_and_decode_hooks():
    from warc2text_spark.operators.multimodal import (_decode_image_stub,
                                                      _resize_image_stub,
                                                      sniff_media_type)
    from warc2text_spark.functions.pngpixels import (decode_png,
                                                     png_encoded_size)
    avi = build_avi_mjpeg([encode_jpeg_flat(16, 24)] * 3, 16, 24)
    assert sniff_media_type(avi) == "video/avi"
    assert sniff_media_type(b"RIFF\x00\x00\x00\x00WAVE") == "audio/wav"
    assert sniff_media_type(b"RIFF\x00\x00\x00\x00WEBP") == "image/webp"
    assert sniff_media_type(b"RIFF\x00\x00\x00\x00????") \
        == "application/octet-stream"
    feat = _decode_image_stub(avi)
    assert feat["media_type"] == "video/avi"
    assert (feat["width"], feat["height"]) == (16, 24)
    assert feat["px_mean"] == 128.0
    thumb = _resize_image_stub(avi, 256)
    assert len(thumb) == png_encoded_size(16, 24, 1)
    arr, _ = decode_png(thumb)
    assert arr.shape[:2] == (24, 16) and (arr == 128).all()


def test_sample_frames_real_avi(spark):
    import base64

    from warc2text_spark.operators.multimodal import sample_frames
    from warc2text_spark.sources.fixtures import INPUT_SCHEMA
    jf = encode_jpeg_flat(8, 16)
    avi5 = build_avi_mjpeg([jf] * 5, 8, 16)
    avi2 = build_avi_mjpeg([jf] * 2, 8, 16)
    rows = [(d, "u", "response", "", "200 OK", "text/html", "", "",
             "2024-01-01T00:00:00Z",
             [dict(kind="media", text="",
                   media_ref=base64.b64encode(p).decode(), offset=0)])
            for d, p in [("a", avi5), ("b", avi2)]]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = {}
    for r in sample_frames(df, n_frames=3).collect():
        out.setdefault(r.doc_id, []).append(bytes(r.frame))
    assert len(out["a"]) == 3 and all(f == jf for f in out["a"])
    assert len(out["b"]) == 2 and all(f == jf for f in out["b"])
