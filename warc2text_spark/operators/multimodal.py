"""Multimodal (image/audio/video) span handling.

Media payloads are opaque base64/binary columns with typed metadata.  The
Spark-side plumbing (schema, batching, partitioning, UDF signatures) is
real and tested.  Image dimensions come from real dependency-free header
parsing for PNG/GIF/JPEG (``parse_image_header`` — struct on magic
bytes); PNG additionally gets REAL pixel decode / feature extraction /
nearest-neighbor resize + re-encode (``functions/pngpixels.py``, stdlib
zlib + numpy, r6), GIF gets the real frame-structure walker
(``gif_frames``) plus real frame PIXELS via the full LZW decompressor
(``gif_first_frame_pixels`` / ``functions/giflzw.py``, r6), WAV
audio gets real PCM decode (``functions/wavaudio.py``, r6), and JPEG
gets real baseline pixel decode — Huffman entropy coding + exact IDCT
(``functions/jpegpixels.py``, r6).  Video decodes for real too: AVI
containers are walked as RIFF chunk trees (``functions/aviriff.py``)
and MJPEG streams — one baseline JPEG per ``00dc`` chunk — reuse the
real JPEG decoder for per-frame pixels (r6).  Every modality now has
at least one fully real decode path (image: PNG/GIF/JPEG, audio: WAV
PCM, video: AVI/MJPEG, document: PDF text); the deterministic fake
twin remains only for unknown formats and out-of-scope encodings
(progressive JPEG, interlaced GIF, non-MJPEG video codecs), keeping
the plumbing exercised on every payload.
"""

from __future__ import annotations

import base64
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = {
    b"\x89PNG\r\n\x1a\n": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"GIF87a": "image/gif",
    b"GIF89a": "image/gif",
    b"ID3": "audio/mpeg",
    b"%PDF": "application/pdf",
    b"IMG": "x-test/fake",  # deterministic fixture payloads
}

# RIFF is a container, not a format: the type fourcc at offset 8 decides
_RIFF_TYPES = {b"WAVE": "audio/wav", b"AVI ": "video/avi",
               b"WEBP": "image/webp"}


def sniff_media_type(payload: bytes) -> str:
    if payload.startswith(b"RIFF"):
        return _RIFF_TYPES.get(payload[8:12], "application/octet-stream")
    if payload.startswith(b"BM"):
        # 2-byte magic over-matches ordinary text ("BMW ...") — require
        # a structurally valid DIB header before claiming the type
        from ..functions.bmppixels import parse_bmp_header
        if parse_bmp_header(payload) is not None:
            return "image/bmp"
        return "application/octet-stream"
    for magic, mime in MAGIC.items():
        if payload.startswith(magic):
            return mime
    return "application/octet-stream"


def media_metadata(spans_df: DataFrame) -> DataFrame:
    """Native projection: per media span, decoded byte length + a cheap
    prefix sniff — no Python, full pushdown."""
    media = (
        spans_df.select(F.col("doc_id"), F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
    )
    payload = F.unbase64(F.col("s.media_ref"))
    return media.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("s.offset").alias("offset"),
        F.octet_length(payload).cast("long").alias("media_bytes"),
        (F.substring(payload.cast("string"), 1, 3) == "IMG").alias("is_fake_img"),
    )


def parse_webp_header(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a WEBP container — all three bitstream
    flavors (struct-only, dependency-free; never raises):

    * ``VP8 `` lossy: 14-bit dims after the 0x9d012a start code
      (RFC 6386 §9.1).
    * ``VP8L`` lossless: 14-bit-packed dims after the 0x2F signature.
    * ``VP8X`` extended: 24-bit canvas dims minus one.
    """
    import struct
    try:
        if len(payload) < 30 or not payload.startswith(b"RIFF") \
                or payload[8:12] != b"WEBP":
            return None
        four = payload[12:16]
        if four == b"VP8 ":
            if payload[23:26] != b"\x9d\x01\x2a":
                return None
            w, h = struct.unpack("<HH", payload[26:30])
            return (w & 0x3FFF, h & 0x3FFF)
        if four == b"VP8L":
            if payload[20] != 0x2F:
                return None
            (bits,) = struct.unpack("<I", payload[21:25])
            return ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
        if four == b"VP8X":
            w = int.from_bytes(payload[24:27], "little") + 1
            h = int.from_bytes(payload[27:30], "little") + 1
            return (w, h)
        return None
    except Exception:
        return None


def parse_image_header(payload: bytes) -> tuple[int, int] | None:
    """Dependency-free (width, height) from PNG/GIF/JPEG headers — pure
    struct parsing on magic bytes, no imaging library needed.

    * PNG: IHDR is always the first chunk — width/height are big-endian
      uint32 at offsets 16/20 (sig 8 + length 4 + 'IHDR' 4).
    * GIF: logical-screen width/height are little-endian uint16 at 6/8.
    * JPEG: walk the marker segments to the first SOFn (0xC0-0xCF minus
      DHT 0xC4, JPG 0xC8, DAC 0xCC); height/width are big-endian uint16
      at segment offsets 3/5.

    Returns None on anything malformed (never raises — kernel contract).
    """
    import struct
    try:
        if payload.startswith(b"\x89PNG\r\n\x1a\n"):
            if len(payload) < 24 or payload[12:16] != b"IHDR":
                return None
            w, h = struct.unpack(">II", payload[16:24])
            return (w, h)
        if payload.startswith((b"GIF87a", b"GIF89a")):
            if len(payload) < 10:
                return None
            w, h = struct.unpack("<HH", payload[6:10])
            return (w, h)
        if payload.startswith(b"BM"):
            from ..functions.bmppixels import parse_bmp_header
            return parse_bmp_header(payload)
        if payload.startswith(b"RIFF") and payload[8:12] == b"WEBP":
            return parse_webp_header(payload)
        if payload.startswith(b"\xff\xd8"):
            i = 2
            while i + 4 <= len(payload):
                if payload[i] != 0xFF:
                    return None
                # ITU T.81 B.1.1.2: any number of 0xFF fill bytes may
                # precede a marker — skip them (real encoders emit them)
                while i + 4 <= len(payload) and payload[i + 1] == 0xFF:
                    i += 1
                marker = payload[i + 1]
                if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
                    i += 2  # standalone markers, no length field
                    continue
                (seg_len,) = struct.unpack(">H", payload[i + 2:i + 4])
                if (0xC0 <= marker <= 0xCF
                        and marker not in (0xC4, 0xC8, 0xCC)):
                    if i + 9 > len(payload):
                        return None
                    h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                    return (w, h)
                i += 2 + seg_len
            return None
    except Exception:
        return None
    return None


def _decode_image_stub(payload: bytes) -> dict:
    """Decode hook: REAL pixel decode for PNG (functions/pngpixels.py —
    stdlib-zlib inflate + per-scanline unfilter, r6), for GIF first
    frames (gif_first_frame_pixels — full LZW, r6), for baseline JPEG
    (functions/jpegpixels.py — Huffman entropy decode + exact IDCT,
    r6) and REAL PCM decode for WAV audio (functions/wavaudio.py, r6),
    plus real header parsing for all three image formats
    (parse_image_header — struct on magic bytes, dependency-free); the
    deterministic fake twin covers every other payload so the full
    Spark plumbing (Arrow batches, schema, partitioning) stays
    exercised and oracle-checkable.  ``px_mean`` is the mean decoded
    sample value (pixels for images, raw PCM level for audio), or the
    -1.0 sentinel when no pixel decode applies (progressive JPEG,
    interlaced GIF, headers without pixel data; the no-NULLs driver
    rule).  ``px_rms`` is the RMS of the same decoded samples (the
    energy/contrast feature a curation pipeline gates on: near-blank
    images, silent audio), same -1.0 sentinel."""
    def _stats(a) -> None:
        nonlocal px_mean, px_rms
        f = a.astype(np.float64) if hasattr(a, "astype") else a
        px_mean = round(float(f.mean()), 4)
        px_rms = round(float(np.sqrt((f * f).mean())), 4)

    px_mean = -1.0
    px_rms = -1.0
    dims = parse_image_header(payload)
    if dims is not None:
        w, h = dims
        if payload.startswith(b"\x89PNG"):
            from ..functions.pngpixels import decode_png
            decoded = decode_png(payload)
            if decoded is not None:
                arr, _palette = decoded
                _stats(arr)
        elif payload.startswith((b"GIF87a", b"GIF89a")):
            rgb = gif_first_frame_pixels(payload)
            if rgb is not None:
                _stats(rgb)
        elif payload.startswith(b"\xff\xd8"):
            from ..functions.jpegpixels import decode_jpeg
            px = decode_jpeg(payload)
            if px is not None:
                _stats(px)
        elif payload.startswith(b"BM"):
            from ..functions.bmppixels import decode_bmp
            px = decode_bmp(payload)
            if px is not None:
                _stats(px)
    elif payload.startswith(b"ID3"):
        # MP3 audio: dims are 0x0 and px stats stay sentinel (no sample
        # decode, no frame-header parse: bitrate/rate/duration have no
        # column in this schema)
        w = h = 0
    elif payload.startswith(b"RIFF") and payload[8:12] == b"WAVE":
        # real audio decode (r6): struct-only RIFF/PCM walk; px_mean /
        # px_rms double as the modality's level/energy features (raw
        # PCM sample values); image dims are 0 for audio
        from ..functions.wavaudio import parse_wav
        wav = parse_wav(payload)
        w = h = 0
        if wav is not None:
            px_mean = round(wav["mean"], 4)
            px_rms = round(wav["rms"], 4)
    elif payload.startswith(b"RIFF") and payload[8:12] == b"AVI ":
        # real video decode (r6): RIFF chunk walk for dims/frame count,
        # first MJPEG frame through the real JPEG decoder for px stats
        from ..functions.aviriff import first_frame_pixels, parse_avi
        avi = parse_avi(payload)
        w = h = 0
        if avi is not None:
            w, h = avi["width"], avi["height"]
            px = first_frame_pixels(payload)
            if px is not None:
                _stats(px)
    else:  # deterministic fake twin (fixture payloads, unknown formats)
        w = 1 + payload[0] % 64 if payload else 0
        h = 1 + payload[-1] % 64 if payload else 0
    return {
        "media_type": sniff_media_type(payload),
        "width": w,
        "height": h,
        "n_bytes": len(payload),
        "px_mean": px_mean,
        "px_rms": px_rms,
    }


MEDIA_FEATURES_SCHEMA = ("doc_id string, offset int, media_type string, "
                         "width int, height int, n_bytes long, "
                         "px_mean double, px_rms double, text string")


def extract_media_features(spans_df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over media spans: Arrow-batched,
    one Python crossing, vectorized pandas ops around the decode hook.
    PDF payloads additionally carry their extracted text (the
    dependency-free ISO-32000 text-showing subset,
    functions/pdftext.py); other media types get ''."""
    media = (
        spans_df.select(F.col("doc_id").cast("string").alias("doc_id"),
                        F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.offset").alias("offset"),
                F.col("s.media_ref").alias("media_ref"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.pdftext import extract_pdf_text
        for pdf in batches:
            payloads = [base64.b64decode(ref) if ref else b""
                        for ref in pdf["media_ref"]]
            feats = [_decode_image_stub(p) for p in payloads]
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "offset": pdf["offset"],
                "media_type": [f["media_type"] for f in feats],
                "width": [f["width"] for f in feats],
                "height": [f["height"] for f in feats],
                "n_bytes": [f["n_bytes"] for f in feats],
                "px_mean": [f["px_mean"] for f in feats],
                "px_rms": [f["px_rms"] for f in feats],
                "text": [extract_pdf_text(p)
                         if f["media_type"] == "application/pdf" else ""
                         for p, f in zip(payloads, feats)],
            })
            yield out

    return media.mapInPandas(run, MEDIA_FEATURES_SCHEMA)


def _resize_image_stub(payload: bytes, max_dim: int) -> bytes:
    """Resize hook.  PNG and baseline-JPEG payloads take the REAL path
    (r6): pixel decode (functions/pngpixels.py / jpegpixels.py),
    nearest-neighbor resample capping the longer side at ``max_dim``,
    re-encode as a real PNG with a level-0 (stored-block) zlib stream —
    thumbnails standardize on PNG output (a real multimodal pipeline
    does the same: one thumb format regardless of source), so the
    output size is closed-form in the target dims and the driver
    oracle states it in SQL (png_encoded_size).  GIF first frames and
    MJPEG AVI first frames take the same decode -> resize -> PNG route
    (r6).  Everything else keeps the deterministic fake twin
    (truncate/pad to a size derived from max_dim); the plumbing stays
    exercised."""
    if payload.startswith(b"\xff\xd8"):
        from ..functions.jpegpixels import decode_jpeg
        from ..functions.pngpixels import encode_png, resize_nearest
        px = decode_jpeg(payload)
        if px is not None:
            return encode_png(resize_nearest(px, max_dim))
    if payload.startswith(b"RIFF") and payload[8:12] == b"AVI ":
        # video thumbnail = first decoded MJPEG frame, resized
        from ..functions.aviriff import first_frame_pixels
        from ..functions.pngpixels import encode_png, resize_nearest
        px = first_frame_pixels(payload)
        if px is not None:
            return encode_png(resize_nearest(px, max_dim))
    if payload.startswith(b"BM"):
        # BMP thumbnail: struct-layout decode (functions/bmppixels.py),
        # resample, same one-thumb-format PNG rule
        from ..functions.bmppixels import decode_bmp
        from ..functions.pngpixels import encode_png, resize_nearest
        px = decode_bmp(payload)
        if px is not None:
            return encode_png(resize_nearest(px, max_dim))
    if payload.startswith((b"GIF87a", b"GIF89a")):
        # GIF thumbnail = first decoded frame (full LZW decode,
        # palette-dereferenced RGB), resized, re-encoded as PNG — same
        # one-thumb-format rule as JPEG/AVI; size is closed-form
        # png_encoded_size(w2, h2, 3).  Interlaced / truncated streams
        # decode to None and fall through to the fake twin.
        from ..functions.pngpixels import encode_png, resize_nearest
        px = gif_first_frame_pixels(payload)
        if px is not None:
            return encode_png(resize_nearest(px, max_dim))
    if payload.startswith(b"\x89PNG"):
        from ..functions.pngpixels import (decode_png, encode_png,
                                           resize_nearest)
        decoded = decode_png(payload)
        if decoded is not None:
            arr, palette = decoded
            if palette is not None:
                # palette image: dereference to RGB before resampling —
                # re-encoding the raw index plane as grayscale would
                # scramble the colors (review r6 finding)
                idx = arr[:, :, 0]
                arr = palette[np.minimum(idx, len(palette) - 1)] \
                    if len(palette) else arr
            return encode_png(resize_nearest(arr, max_dim))
    target = min(len(payload), max_dim * 4) or 1
    return (payload * ((target // max(len(payload), 1)) + 1))[:target]


RESIZED_SCHEMA = "doc_id string, offset int, resized binary, resized_bytes long"


def resize_media(spans_df: DataFrame, max_dim: int = 256) -> DataFrame:
    """mapInPandas binary->binary transform over media spans (the resize /
    thumbnail stage of a multimodal training pipeline)."""
    media = (
        spans_df.select(F.col("doc_id").cast("string").alias("doc_id"),
                        F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.offset").alias("offset"),
                F.unbase64(F.col("s.media_ref")).alias("payload"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [_resize_image_stub(bytes(p or b""), max_dim)
                       for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "offset": pdf["offset"],
                "resized": resized,
                "resized_bytes": [len(r) for r in resized],
            })

    return media.mapInPandas(run, RESIZED_SCHEMA)


def gif_frames(payload: bytes) -> list[bytes]:
    """Dependency-free animated-GIF frame walker: parse the GIF89a/87a
    block structure (GIF spec §§17-23 — logical screen descriptor +
    optional global color table, then a stream of extension blocks
    (0x21, sub-block chains), image descriptors (0x2C) and the trailer
    0x3B) and return one raw byte slice per frame — the image-descriptor
    block from its 0x2C introducer through its sub-block terminator,
    local color table and LZW data included, undecoded.

    Frames are returned as found up to the first malformed byte (never
    raises — kernel contract); a still image yields one frame, a bare
    header yields [].
    """
    try:
        if not payload.startswith((b"GIF87a", b"GIF89a")) or len(payload) < 13:
            return []
        i = 6 + 7  # header + logical screen descriptor
        flags = payload[10]
        if flags & 0x80:  # global color table: 3 * 2^(size+1) bytes
            i += 3 * (1 << ((flags & 0x07) + 1))
        frames: list[bytes] = []

        def skip_subblocks(j: int) -> int:
            while True:
                if j >= len(payload):
                    return -1
                n = payload[j]
                j += 1 + n
                if n == 0:
                    return j
                if j > len(payload):
                    return -1

        while i < len(payload):
            b = payload[i]
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension: label byte + sub-block chain
                if i + 2 > len(payload):
                    break
                j = skip_subblocks(i + 2)
                if j < 0:
                    break
                i = j
            elif b == 0x2C:  # image descriptor
                start = i
                if i + 10 > len(payload):
                    break
                dflags = payload[i + 9]
                j = i + 10
                if dflags & 0x80:  # local color table
                    j += 3 * (1 << ((dflags & 0x07) + 1))
                j += 1  # LZW minimum code size
                if j > len(payload):
                    break
                j = skip_subblocks(j)
                if j < 0:
                    break
                frames.append(payload[start:j])
                i = j
            else:  # unknown block type: stop (corrupt stream)
                break
        return frames
    except Exception:
        return []


def gif_first_frame_pixels(payload: bytes):
    """(h, w, 3) uint8 RGB pixels of the FIRST frame, or None — real GIF
    decode (r6): global/local color table + the full LZW decompressor
    (functions/giflzw.py).  Interlaced frames and streams whose LZW data
    doesn't cover the frame return None (honest edges); never raises."""
    try:
        import struct

        from ..functions.giflzw import lzw_decode
        if not payload.startswith((b"GIF87a", b"GIF89a")) \
                or len(payload) < 13:
            return None
        flags = payload[10]
        pos = 13
        gct = None
        if flags & 0x80:
            n = 3 * (1 << ((flags & 0x07) + 1))
            gct = payload[pos:pos + n]
            pos += n
        frames = gif_frames(payload)
        if not frames:
            return None
        f = frames[0]
        _x, _y, w, h = struct.unpack("<HHHH", f[1:9])
        dflags = f[9]
        if dflags & 0x40 or w == 0 or h == 0:
            return None  # interlaced: unsupported edge
        p = 10
        pal = gct
        if dflags & 0x80:
            n = 3 * (1 << ((dflags & 0x07) + 1))
            pal = f[p:p + n]
            p += n
        if not pal:
            return None
        min_code = f[p]
        p += 1
        chunks = []
        while p < len(f):
            ln = f[p]
            p += 1
            if ln == 0:
                break
            chunks.append(f[p:p + ln])
            p += ln
        idx = lzw_decode(b"".join(chunks), min_code)
        if idx is None or len(idx) < w * h:
            return None
        arr = np.frombuffer(idx[:w * h], dtype=np.uint8).reshape(h, w)
        palette = np.frombuffer(pal[:(len(pal) // 3) * 3],
                                dtype=np.uint8).reshape(-1, 3)
        return palette[np.minimum(arr, len(palette) - 1)]
    except Exception:
        return None


FRAME_SCHEMA = ("doc_id string, offset int, frame_idx int, frame binary")


def sample_frames(spans_df: DataFrame, n_frames: int = 3) -> DataFrame:
    """Frame sampling for video-like payloads: one output row per sampled
    frame.  Animated (or still) GIFs go through the REAL dependency-free
    frame walker (:func:`gif_frames`) and AVI containers through the
    REAL RIFF chunk walk (functions/aviriff.py — each ``00dc`` chunk is
    one frame; for MJPEG streams the bytes are complete baseline JPEGs
    the real decoder can open) — up to ``n_frames`` frames sampled
    evenly across the real frame blocks, raw undecoded bytes.  Every
    other payload keeps the deterministic byte-slice synthetic twin
    (the stand-in for ffmpeg-class codecs), so the 1->N row expansion
    and schema stay exercised for all media types."""
    media = (
        spans_df.select(F.col("doc_id").cast("string").alias("doc_id"),
                        F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.offset").alias("offset"),
                F.unbase64(F.col("s.media_ref")).alias("payload"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "offset": [], "frame_idx": [], "frame": []}
            for doc_id, offset, payload in zip(pdf["doc_id"], pdf["offset"],
                                               pdf["payload"]):
                data = bytes(payload or b"")
                real = gif_frames(data)
                if not real and data[:4] == b"RIFF" \
                        and data[8:12] == b"AVI ":
                    from ..functions.aviriff import parse_avi
                    avi = parse_avi(data)
                    if avi:
                        real = avi["frames"]
                if real:
                    k = min(n_frames, len(real))
                    picks = [real[i * len(real) // k] for i in range(k)]
                else:  # synthetic twin: even byte slices
                    step = max(len(data) // max(n_frames, 1), 1)
                    picks = [data[i * step:(i + 1) * step] or b"\0"
                             for i in range(n_frames)]
                for i, fr in enumerate(picks):
                    rows["doc_id"].append(doc_id)
                    rows["offset"].append(offset)
                    rows["frame_idx"].append(i)
                    rows["frame"].append(fr)
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, FRAME_SCHEMA)
