"""Multimodal plumbing: media sniffing, header parsing, resize, frame sampling."""

from tests.fixture_rows import _doc, _m, _t
from warc2text_spark.operators.multimodal import (
    extract_media_features,
    media_metadata,
    resize_media,
    sample_frames,
    sniff_media_type,
)
from warc2text_spark.sources.fixtures import INPUT_SCHEMA


def media_df(spark):
    rows = [
        _doc("m1", [_t("<p>text</p>", 0), _m(b"\x89PNG\r\n\x1a\nimagebytes" * 20, 1)]),
        _doc("m2", [_m(b"\xff\xd8\xffjpegdata" * 10, 0)]),
    ]
    return spark.createDataFrame(rows, schema=INPUT_SCHEMA)


def test_sniff():
    assert sniff_media_type(b"\x89PNG\r\n\x1a\nxx") == "image/png"
    assert sniff_media_type(b"\xff\xd8\xffxx") == "image/jpeg"
    assert sniff_media_type(b"junk") == "application/octet-stream"
    # an ID3-tagged MP3 stream is audio with 0x0 dims and sentinel stats
    from warc2text_spark.operators.multimodal import _decode_image_stub
    tag = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10
    # MPEG-1 Layer III, 128 kbps (idx 9), 44100 Hz (idx 0)
    frame = bytes([0xFF, 0xFB, 0x90, 0x00])
    mp3 = tag + frame + b"\x00" * (16000 - len(tag) - 4)
    f = _decode_image_stub(mp3)
    assert f["media_type"] == "audio/mpeg"
    assert (f["width"], f["height"], f["px_mean"]) == (0, 0, -1.0)


def test_parse_image_header_real_codecs():
    from warc2text_spark.operators.multimodal import parse_image_header
    from tests.fixture_codecs import gif_header, jpeg_header, png_header
    for w, h in ((1, 1), (640, 480), (1920, 1080), (65535, 1)):
        assert parse_image_header(png_header(w, h)) == (w, h)
        assert parse_image_header(jpeg_header(w, h)) == (w, h)
        if w <= 65535 and h <= 65535:
            assert parse_image_header(gif_header(w, h)) == (w, h)
    # PNG > uint16 dims (the GIF/JPEG fields cap at 65535)
    assert parse_image_header(png_header(1 << 20, 3)) == (1 << 20, 3)
    # JPEG with APP0 before SOF0 (real files lead with JFIF metadata)
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 6) + b"JF\x00\x00"
    jpeg = b"\xff\xd8" + app0 + jpeg_header(123, 45)[2:]
    assert parse_image_header(jpeg) == (123, 45)
    # malformed inputs: never raise, return None
    for bad in (b"", b"\x89PNG\r\n\x1a\n", b"\x89PNG\r\n\x1a\nXXXXIDAT",
                b"GIF89a\x01", b"\xff\xd8\xff", b"\xff\xd8\x00\x00",
                b"IMG42", b"junk"):
        assert parse_image_header(bad) is None


def test_media_features_real_headers(spark):
    from tests.fixture_codecs import gif_header, png_header
    rows = [
        _doc("p1", [_m(png_header(800, 600), 0)]),
        _doc("g1", [_m(gif_header(320, 200), 0)]),
    ]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    feats = {r.doc_id: r for r in extract_media_features(df).collect()}
    assert (feats["p1"].media_type, feats["p1"].width, feats["p1"].height) \
        == ("image/png", 800, 600)
    assert (feats["g1"].media_type, feats["g1"].width, feats["g1"].height) \
        == ("image/gif", 320, 200)


def test_media_metadata_and_features(spark):
    df = media_df(spark)
    meta = {r.doc_id: r.media_bytes for r in media_metadata(df).collect()}
    assert meta["m1"] == len(b"\x89PNG\r\n\x1a\nimagebytes" * 20)
    feats = {r.doc_id: r for r in extract_media_features(df).collect()}
    assert feats["m1"].media_type == "image/png"
    assert feats["m2"].media_type == "image/jpeg"
    assert feats["m1"].width >= 1 and feats["m1"].n_bytes == meta["m1"]


def test_resize_and_frames(spark):
    df = media_df(spark)
    resized = resize_media(df, max_dim=16).collect()
    assert all(r.resized_bytes == len(r.resized) <= 64 for r in resized)
    frames = sample_frames(df, n_frames=3).collect()
    assert len(frames) == 2 * 3
    assert {(f.doc_id, f.frame_idx) for f in frames} == \
        {(d, i) for d in ("m1", "m2") for i in range(3)}
    assert all(len(f.frame) >= 1 for f in frames)


def test_ivf_topk_recall(spark):
    """IVF ANN returns mostly the same neighbours as exact brute force."""
    from warc2text_spark.operators.similarity import cosine_topk, ivf_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         emb.filter("vec_id = 0").collect()[0].embedding]
    exact = [r.vec_id for r in cosine_topk(emb, q, 10).collect()]
    ivf = ivf_topk(emb, q, 10, n_clusters=8, n_probe=3)
    got = [r.vec_id for r in ivf.collect()]
    assert len(got) == 10
    assert 0 in got  # the query vector itself is its own nearest neighbour
    overlap = len(set(exact) & set(got))
    assert overlap >= 5, (exact, got)  # approximate: decent recall
    # determinism (fixed kmeans seed)
    again = [r.vec_id for r in
             ivf_topk(emb, q, 10, n_clusters=8, n_probe=3).collect()]
    assert got == again


def test_gif_frame_walker_block_structure():
    """gif_frames walks real GIF block structure: extensions skipped,
    one slice per image descriptor (0x2C..sub-block terminator, local
    color table included), stops at the trailer, returns [] / partial on
    malformed bytes, never raises."""
    import struct

    from warc2text_spark.operators.multimodal import gif_frames
    from tests.fixture_codecs import gif_animated, gif_header

    assert gif_frames(gif_header(10, 10)) == []        # bare header
    for nf, sb in ((1, 1), (3, 7), (5, 4)):
        g = gif_animated(20, 10, nf, sb)
        frames = gif_frames(g)
        assert len(frames) == nf
        assert all(len(f) == 13 + sb and f[0] == 0x2C for f in frames)
    # global + local color tables are skipped, not misread as blocks
    lsd = b"GIF89a" + struct.pack("<HH", 4, 4) + bytes([0x80, 0, 0])
    gct = b"\x01\x02\x03" * 2          # size bits 000 -> 3*2^1 = 6 bytes
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + bytes([0x80])
    lct = b"\x04\x05\x06" * 2
    img = desc + lct + b"\x02" + b"\x02ab" + b"\x00"
    frames = gif_frames(lsd + gct + img + b"\x3b")
    assert len(frames) == 1 and frames[0] == img
    # truncations return what was fully parsed, never raise
    g = gif_animated(4, 4, 2, 3)
    for cut in range(len(g)):
        out = gif_frames(g[:cut])
        assert isinstance(out, list) and len(out) <= 2
    assert gif_frames(b"") == [] and gif_frames(b"GIF89a\x00") == []


def test_sample_frames_real_gif_and_synthetic_twin(spark):
    """sample_frames routes GIFs through the real walker (n_frames
    sampled evenly across real frame slices) and everything else through
    the deterministic byte-slice twin."""
    import base64

    from warc2text_spark.operators.multimodal import sample_frames
    from tests.fixture_codecs import gif_animated

    def _m(payload, off):
        return dict(kind="media", text="",
                    media_ref=base64.b64encode(payload).decode(), offset=off)
    gif7 = gif_animated(8, 8, 7, 2)   # 7 real frames, slice 15 B
    fake = b"IMG1234"
    rows = [("g", "u", "response", "", "200 OK", "text/html", "", "",
             "2024-01-01T00:00:00Z", [_m(gif7, 0)]),
            ("f", "u", "response", "", "200 OK", "text/html", "", "",
             "2024-01-01T00:00:00Z", [_m(fake, 0)])]
    from warc2text_spark.sources.fixtures import INPUT_SCHEMA
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = {}
    for r in sample_frames(df, n_frames=3).collect():
        out.setdefault(r.doc_id, []).append((r.frame_idx, bytes(r.frame)))
    gf = sorted(out["g"])
    assert [i for i, _ in gf] == [0, 1, 2]
    # even sampling across 7 frames: real frames 0, 2, 4 (i*7//3)
    assert all(len(f) == 15 and f[0] == 0x2C for _, f in gf)
    ff = sorted(out["f"])
    assert len(ff) == 3 and ff[0][1] == b"IM"  # synthetic twin slices


def test_webp_header_all_flavors():
    import struct

    from warc2text_spark.operators.multimodal import (parse_image_header,
                                                      parse_webp_header)

    def riff(four, body):
        chunk = four + struct.pack("<I", len(body)) + body
        return (b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP"
                + chunk)

    lossy = riff(b"VP8 ", b"\x00" * 3 + b"\x9d\x01\x2a"
                 + struct.pack("<HH", 640, 480) + b"\x00" * 8)
    assert parse_webp_header(lossy) == (640, 480)
    assert parse_image_header(lossy) == (640, 480)
    bits = (639) | (479 << 14)
    lossless = riff(b"VP8L", b"\x2f" + struct.pack("<I", bits) + b"\x00" * 8)
    assert parse_webp_header(lossless) == (640, 480)
    ext = riff(b"VP8X", b"\x00" * 4
               + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
               + b"\x00" * 4)
    assert parse_webp_header(ext) == (640, 480)
    # malformed: never raises
    for bad in (b"", b"RIFF", lossy[:20], lossy.replace(b"\x9d", b"\x00"),
                riff(b"XXXX", b"\x00" * 20)):
        assert parse_webp_header(bad) is None
